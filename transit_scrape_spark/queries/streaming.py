"""Structured Streaming surface (SURVEY.md §2.10).

The reference's incremental pattern — scrape to timestamped files, then
sequential append-load (``process_cycle_networks.py:146`` +
``push_to_db.py:87-106``) — re-expressed as Structured Streaming file
sources with availableNow triggers (process-everything-then-stop, the
batch-replay mode).

These ops run a REAL streaming query (readStream -> memory sink) and
return the result table, so they remain oracle-comparable: with a
single availableNow replay over a static fixture no rows are
watermark-dropped, so the streaming result equals the batch aggregate.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import (
    load_events_raw,
    load_table,
    normalize_event_ts,
)


@contextmanager
def _state_partitions_sized_to_cluster(spark: SparkSession):
    """Clamp spark.sql.shuffle.partitions while a streaming query starts.

    A streaming query pins its state-store partition count at start from
    this conf, and every state partition pays a fixed per-micro-batch
    cost (store open, delta commit, snapshot/maintenance) regardless of
    how much state it holds. With fixture-scale state that fixed cost
    dominates: measured stream-stream join at sf0.1 on local[32] runs
    13.8s with 32 state partitions, 4.8s with 16, 3.1s with 8 — and a
    vanilla 200-partition session was ~10x worse still. So size state
    partitions down when state volume is small, to the session's
    summary width ``cache_width`` (max(8, parallelism/4)), which grows
    with the cluster and not with the session's batch-shuffle setting.
    Restored afterward so batch ops keep the session's setting.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(min(int(old), cache_width(spark))))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Set by tools/audit_plans.py (to a list) while auditing streaming ops:
# every streaming query an op runs appends {name, plan, progress} records
# here via audited_await, exposing the live physical plan + state-store
# metrics that batch-style executed_plan() can never see. None (the
# default) is zero-overhead for tests/bench/driver runs.
AUDIT_SINK: list | None = None


def audited_await(q) -> None:
    """awaitTermination, then (only when AUDIT_SINK is set) record the
    query's physical plan and per-batch progress for the plan audit.
    explainInternal and recentProgress both remain readable after an
    availableNow query terminates (lastExecution is retained on the
    driver)."""
    q.awaitTermination()
    if AUDIT_SINK is None:
        return
    try:
        plan = q._jsq.explainInternal(True)
    except Exception as exc:  # pragma: no cover - audit robustness
        plan = f"<explain unavailable: {exc}>"
    AUDIT_SINK.append(
        {
            "name": q.name,
            "plan": plan,
            "progress": list(q.recentProgress),
        }
    )


def _run_stream_to_memory(sdf, out_mode: str) -> str:
    """Run a streaming DataFrame to completion into a memory sink;
    returns the sink table name."""
    name = "s" + uuid.uuid4().hex[:12]
    with _state_partitions_sized_to_cluster(sdf.sparkSession):
        q = (
            sdf.writeStream.outputMode(out_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        audited_await(q)
    return name


def _events_stream(spark: SparkSession, sf_dir: str):
    raw = load_events_raw(spark, sf_dir)
    # file streams require a directory source: stream the fixture dir with
    # a glob filter selecting just the events table
    return normalize_event_ts(
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


@query(
    "stream-file-source",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    doc="Continuous file-source ingest (reference glob loop "
    "push_to_db.py:77-88) as readStream.parquet + availableNow: "
    "exactly-once per file via checkpointed file tracking; counts must "
    "equal the batch scan.",
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n")
    )
    name = _run_stream_to_memory(counts, "complete")
    return spark.table(name)


@query(
    "stream-tumbling-agg",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        -- NULL event-time rows belong to NO window (Spark's windowed
        -- streaming agg drops them silently; pinned on both engines)
        FROM events WHERE ts IS NOT NULL
        GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling-window counts (reference per-load rollup "
    "push_to_db.py:109-111 generalized): watermark + window('1 hour') "
    "groupBy; complete output over an availableNow replay equals the "
    "batch date_trunc aggregate. State is bounded by the watermark in "
    "continuous operation.",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    name = _run_stream_to_memory(agg, "complete")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@query(
    "stream-sliding-agg",
    oracle="""
        WITH slides AS (
            SELECT e.*,
                   CAST(time_bucket(INTERVAL 15 MINUTE, e.ts)
                        - to_minutes(15 * s.i) AS TIMESTAMP) AS window_start
            FROM events e
            CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s
            -- NULL event-time rows belong to NO window (see tumbling)
            WHERE e.ts IS NOT NULL
        )
        SELECT window_start, count(*) AS n
        FROM slides
        GROUP BY window_start
    """,
    doc="Sliding-window aggregation (1 h window, 15 min slide): each event "
    "lands in the 4 windows starting at floor15(ts) - {0,15,30,45} min; "
    "the oracle reproduces Spark's epoch-aligned window assignment with "
    "time_bucket.",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
    )
    name = _run_stream_to_memory(agg, "complete")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n"
    )


@query(
    "stream-append-sink",
    oracle="""
        SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    doc="Exactly-once append to a parquet table (reference commit-per-batch "
    "db_helpers.py:181-182 + drop-only-first-file hazard "
    "push_to_db.py:91-92): writeStream.parquet + checkpoint. Re-running "
    "with the same checkpoint appends NOTHING new — the checkpoint "
    "replaces the reference's fragile drop_existing flag.",
)
def stream_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from transit_scrape_spark.sources.fixtures import content_tag

    # content-keyed (stale-fixture-proof) but built in place: streaming
    # checkpoints and _spark_metadata pin absolute paths, so the atomic
    # rename pattern is off-limits here
    tag = content_tag(sf_dir)
    out_dir = f"/tmp/tss_stream_append_{tag}/data"
    ckpt = f"/tmp/tss_stream_append_{tag}/ckpt"
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    with _state_partitions_sized_to_cluster(spark):
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        audited_await(q)
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@query(
    "stream-watermark",
    oracle="""
        WITH on_time AS (
            SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        ), wm AS (
            SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM on_time
        )
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               count(*) AS n
        FROM on_time
        GROUP BY date_trunc('hour', ts)
        HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
               <= (SELECT w FROM wm)
    """,
    doc="Watermark semantics on a staged two-batch replay (late half "
    "arrives after on-time half): append-mode windowed agg drops every "
    "late row (ts < watermark after batch 1) and emits only windows "
    "whose end <= final watermark. Deterministic, so fully oracled — "
    "the SQL reproduces Spark's watermark algebra.",
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from transit_scrape_spark.sources.tables import load_events

    from transit_scrape_spark.sources.fixtures import content_tag

    # content-keyed, in-place build (checkpoints pin absolute paths)
    base = f"/tmp/tss_stream_wm_{content_tag(sf_dir)}"
    stage, ckpt, out = f"{base}/stage", f"{base}/ckpt", f"{base}/out"
    split = "2024-01-16"

    def _stage_one(df, name: str) -> None:
        tmp = f"{base}/{name}_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(tmp, part), os.path.join(stage, name))
        shutil.rmtree(tmp)

    def _run_phase() -> None:
        sdf = (
            spark.readStream.schema(load_events(spark, sf_dir).schema)
            .parquet(stage)
        )
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )
        with _state_partitions_sized_to_cluster(spark):
            q = (
                agg.select(F.col("window.start").alias("window_start"), "n")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            audited_await(q)

    if not os.path.exists(f"{base}/_DONE"):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        ev = load_events(spark, sf_dir)
        # phase 1: only the on-time (later) half is present
        _stage_one(ev.filter(F.col("ts") >= split), "01_ontime.parquet")
        _run_phase()
        # phase 2: the late (earlier) half arrives after the watermark has
        # already advanced past it -> every late row is dropped, and only
        # on-time windows with end <= final watermark were emitted
        _stage_one(ev.filter(F.col("ts") < split), "02_late.parquet")
        _run_phase()
        open(f"{base}/_DONE", "w").close()

    return spark.read.parquet(out)


@query(
    "stream-stream-join",
    oracle="""
        SELECT v.user_id,
               v.event_id AS view_id, p.event_id AS purchase_id,
               v.ts AS view_ts, p.ts AS purchase_ts
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-stream inner join: views joined to purchases by the same "
    "user within 1 hour — watermarks on BOTH sides + the time-range "
    "join condition bound the buffered state (Spark evicts rows older "
    "than watermark+range). A full availableNow replay emits every "
    "qualifying pair, equal to the batch interval join.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    name = _run_stream_to_memory(joined, "append")
    return spark.table(name).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
    )


@query(
    "stream-foreach-batch-upsert",
    oracle="""
        SELECT user_id, event_type, count(*) AS n
        FROM events
        GROUP BY user_id, event_type
    """,
    doc="foreachBatch exactly-once custom sink (guide CDC/MERGE pattern, "
    "emulated without Delta): each micro-batch upserts into a parquet "
    "table via anti-join + union rewrite keyed on (user_id, event_type). "
    "Re-running with the same checkpoint is a no-op — the batch-id gate "
    "inside foreachBatch is the idempotency contract.",
)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from transit_scrape_spark.sources.fixtures import content_tag

    base = f"/tmp/tss_febatch_{content_tag(sf_dir)}"
    target, ckpt = f"{base}/table", f"{base}/ckpt"
    os.makedirs(base, exist_ok=True)

    counts = _events_stream(spark, sf_dir).groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )

    def upsert(batch_df, batch_id: int) -> None:
        # MERGE INTO emulation: replace matched keys, append the rest
        new = batch_df.select("user_id", "event_type", "n")
        if os.path.isdir(target) and any(
            f.endswith(".parquet") for f in os.listdir(target)
        ):
            cur = batch_df.sparkSession.read.parquet(target)
            merged = cur.join(
                new.select("user_id", "event_type"), ["user_id", "event_type"], "left_anti"
            ).unionByName(new)
        else:
            merged = new
        tmp = f"{base}/tmp_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(target, ignore_errors=True)
        os.replace(tmp, target)

    with _state_partitions_sized_to_cluster(spark):
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        audited_await(q)
    return spark.read.parquet(target)


@query(
    "stream-session-window",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN ts - coalesce(lag(ts) OVER w, ts - INTERVAL 1 DAY)
                             > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
            -- NULL event-time rows belong to NO session (see tumbling)
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), tagged AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM gaps
        ), sessions AS (
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end_ts,
                   count(*) AS n
            FROM tagged GROUP BY user_id, sid
        )
        SELECT user_id, CAST(session_start AS TIMESTAMP) AS session_start, n
        FROM sessions
        WHERE session_end_ts + INTERVAL 30 MINUTE
              < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
    """,
    doc="Streaming session windows (30 min gap) with watermark: sessions "
    "merge while events arrive within the gap; append mode emits a "
    "session once the watermark passes its end (last event + gap). The "
    "oracle rebuilds the identical session algebra with window "
    "functions and applies the same emission cutoff.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    name = _run_stream_to_memory(agg, "append")
    return spark.table(name).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n",
    )


@query(
    "stream-stateful-count",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
    doc="Arbitrary stateful streaming op (applyInPandasWithState, SURVEY "
    "§2.10/§2.11): per-user running totals held in explicit state, "
    "emitted per batch — the custom-operator escape hatch when "
    "built-in windows can't express the semantics. A single "
    "availableNow replay makes the final state equal the batch agg.",
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = _run_stream_to_memory(out, "update")
    # update-mode memory sink keeps every emission; last per key wins
    t = spark.table(name)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@query(
    "stream-dedup-unbounded-demo",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_unique
        FROM (SELECT DISTINCT event_id FROM events)
    """,
    doc="Streaming dedup per key with deliberately UNBOUNDED data-keyed "
    "state (plain dropDuplicates('event_id') — state grows with distinct "
    "keys forever): kept as the didactic contrast to `stream-dedup`, "
    "which carries the SURVEY §2.10 contract's bounded "
    "dropDuplicatesWithinWatermark form (ids swapped in r10 per the r9 "
    "verdict so the contract name points at the "
    "continuous-operation-safe op).",
)
def stream_dedup_unbounded_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = _events_stream(spark, sf_dir).dropDuplicates(["event_id"])
    name = _run_stream_to_memory(dedup, "append")
    return spark.table(name).agg(F.count("*").cast("long").alias("n_unique"))


@query(
    "stream-dedup",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_unique,
               CAST((SELECT count(*) * 2 FROM events) AS BIGINT) AS n_ingested
        FROM (SELECT DISTINCT event_id FROM events)
    """,
    doc="Streaming dedup per key with BOUNDED state — the SURVEY §2.10 "
    "contract form (SURVEY.md:259 specifies dropDuplicatesWithinWatermark "
    "for this op id; reference re-run/drop-existing hazard "
    "push_to_db.py:29-30,91-92): dropDuplicatesWithinWatermark keyed on "
    "event_id over a doubled ingest (the fixture staged twice — the "
    "reference's exact re-run double-load hazard). Unlike plain "
    "dropDuplicates (state grows forever; see "
    "stream-dedup-unbounded-demo), the watermark lets Spark evict dedup "
    "state older than the horizon — the only continuous-operation-safe "
    "form at 100 TB. All duplicates here share one batch/timestamp, so "
    "none escape eviction and the result equals batch DISTINCT.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from transit_scrape_spark.sources.fixtures import fixture_dir

    def build(d: str) -> None:
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src, os.path.join(d, "events_a.parquet"))
        shutil.copy(src, os.path.join(d, "events_b.parquet"))

    stage = fixture_dir("tss_dedup_wm", sf_dir, build)
    raw = load_events_raw(spark, sf_dir)
    sdf = normalize_event_ts(spark.readStream.schema(raw.schema).parquet(stage))
    total = sdf.sparkSession.read.parquet(stage).count()
    dedup = sdf.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = _run_stream_to_memory(dedup, "append")
    return spark.table(name).agg(
        F.count("*").cast("long").alias("n_unique"),
        F.lit(total).cast("long").alias("n_ingested"),
    )


@query(
    "stream-outer-join",
    oracle="""
        WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
        p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        wm AS (
            SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
                   - INTERVAL 10 MINUTE AS w
        )
        SELECT v.user_id,
               v.event_id AS view_id, p.event_id AS purchase_id,
               v.ts AS view_ts, p.ts AS purchase_ts
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT v.user_id, v.event_id, NULL, v.ts, NULL
        FROM v
        WHERE NOT EXISTS (
                SELECT 1 FROM p
                WHERE p.user_id = v.user_id
                  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
          AND v.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
    doc="LEFT OUTER stream-stream join (views with-or-without a purchase "
    "within 1 hour): matched pairs emit immediately; unmatched views "
    "emit their NULL row only when the global watermark "
    "(min over both sides' max event time, minus the 10-minute delay) "
    "passes the view's last matchable instant (view_ts + 1h) — i.e. "
    "when the state store PROVES no match can still arrive and evicts "
    "the row. Views newer than that hold back (correctly absent from "
    "the result). The oracle reproduces this watermark algebra in SQL; "
    "state stays bounded by watermark+range eviction exactly as in the "
    "inner-join op.",
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    name = _run_stream_to_memory(joined, "append")
    return spark.table(name).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
    )


def _has_protobuf() -> bool:
    """transformWithStateInPandas's Python state-server worker imports
    google.protobuf.descriptor at startup; the library is an optional
    Spark dependency not present in every runtime. Where it's missing,
    the op below degrades to applyInPandasWithState with the identical
    stateful contract instead of disappearing from the registry."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@query(
    "stream-transform-with-state",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               round(max(value), 6) AS max_value
        FROM events
        GROUP BY user_id
    """,
    doc="transformWithState (Spark 4's arbitrary-stateful successor to "
    "applyInPandasWithState): per-user running count + max held in a "
    "typed ValueState on the RocksDB state store provider — the store "
    "that keeps 100 TB-scale state off-heap with incremental "
    "checkpointing (HDFS-backed maps hold everything in executor "
    "memory). Update-mode emission, last row per key wins; a full "
    "availableNow replay must equal the batch aggregate. The "
    "processor-handle API adds what GroupState lacked: multiple named "
    "state variables, TTL, and timers per key. Runtimes without "
    "google.protobuf (the TWS state server's wire format) run the SAME "
    "contract through applyInPandasWithState/GroupState — identical "
    "update-mode semantics and output, minus the handle-API extras.",
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    grouped = _events_stream(spark, sf_dir).groupBy("user_id")
    out_schema = "user_id long, n_events long, max_value double"

    if _has_protobuf():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningAgg(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._agg = handle.getValueState("agg", "n long, mx double")

            def handleInputRows(self, key, rows, timerValues):
                if self._agg.exists():
                    n, mx = self._agg.get()
                else:
                    n, mx = 0, float("-inf")
                for pdf in rows:
                    n += len(pdf)
                    mx = max(mx, float(pdf["value"].max()))
                self._agg.update((n, mx))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 6)]}
                )

            def close(self) -> None:
                pass

        provider_key = "spark.sql.streaming.stateStore.providerClass"
        old_provider = spark.conf.get(provider_key, None)
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            out = grouped.transformWithStateInPandas(
                statefulProcessor=RunningAgg(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
            name = _run_stream_to_memory(out, "update")
        finally:
            if old_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, old_provider)
    else:
        # Degraded executor path, same contract: one GroupState value
        # (n, mx) per user, update-mode emission per batch the key
        # appears in. The availableNow replay must still equal the
        # batch aggregate — the parity oracle holds for BOTH paths.
        def running_agg(key, pdfs, state):
            if state.exists:
                n, mx = state.get
            else:
                n, mx = 0, float("-inf")
            for pdf in pdfs:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 6)]}
            )

        out = grouped.applyInPandasWithState(
            running_agg,
            outputStructType=out_schema,
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        name = _run_stream_to_memory(out, "update")
    # update-mode memory sink keeps every emission; with one availableNow
    # replay each key emits once per batch it appears in — keep the last
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "max_value")
    )


@query(
    "stream-static-join",
    oracle="""
        WITH dim AS (
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CASE WHEN user_id % 3 = 0 THEN 'gold'
                        WHEN user_id % 3 = 1 THEN 'silver'
                        ELSE 'bronze' END AS tier
            FROM (SELECT DISTINCT user_id FROM events)
        )
        SELECT d.tier, e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(e.value), 2) AS total_value
        FROM events e JOIN dim d ON e.user_id = d.user_id
        GROUP BY d.tier, e.event_type
    """,
    doc="Stream-static enrichment join: the event stream joins a static "
    "dimension (user tier) inside the streaming query — the static "
    "side needs no watermark and is re-resolved per micro-batch (so a "
    "dim table updated between batches is picked up), and Spark plans "
    "it as a broadcast against each batch. THE shape for enriching a "
    "100 TB/day event firehose with reference data; only stream-stream "
    "joins need the watermark state machinery.",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tier = (
        F.when(F.col("user_id") % 3 == 0, "gold")
        .when(F.col("user_id") % 3 == 1, "silver")
        .otherwise("bronze")
    )
    dim = ev.select("user_id").distinct().select("user_id", tier.alias("tier"))
    joined = (
        _events_stream(spark, sf_dir)
        .join(dim, "user_id")  # static side: plain batch DataFrame
        .groupBy("tier", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    name = _run_stream_to_memory(joined, "complete")
    return spark.table(name)


@query(
    "stream-chained-windows",
    oracle="""
        WITH wm AS (
            SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events
        ),
        small AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                   + INTERVAL 10 MINUTE * CAST(floor(extract(minute FROM ts) / 10) AS INTEGER)
                       AS w10_start,
                   count(*) AS n
            FROM events
            GROUP BY 1
        )
        SELECT CAST(date_trunc('hour', w10_start) AS TIMESTAMP) AS hour_start,
               CAST(count(*) AS BIGINT) AS n_small_windows,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM small
        WHERE w10_start + INTERVAL 10 MINUTE <= (SELECT w FROM wm)
        GROUP BY 1
        HAVING CAST(date_trunc('hour', w10_start) AS TIMESTAMP) + INTERVAL 1 HOUR
               <= (SELECT w FROM wm)
    """,
    doc="CHAINED stateful operators in one streaming query (Spark 3.4+ "
    "multi-stateful-operator support): 10-minute tumbling counts "
    "re-aggregated into hourly rollups inside the SAME query — "
    "before 3.4 this took two queries with an intermediate sink. "
    "Emission algebra (reproduced by the oracle): a 10-min window "
    "finalizes when the watermark passes its end, and an hour window "
    "finalizes when the watermark passes ITS end — so only hours "
    "fully behind the watermark emit, and within them only finalized "
    "small windows contribute. The streaming form of "
    "rollup-timebucket's multi-resolution tiering, state bounded per "
    "tier by its own window width.",
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    small = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w10"))
        .agg(F.count("*").alias("n"))
    )
    # window_time() extracts the window's event-time (end - 1ms) while
    # PRESERVING watermark lineage — grouping on w10.start directly
    # severs it and append mode is rejected (no watermark on the col)
    hourly = (
        small.groupBy(F.window(F.window_time("w10"), "1 hour").alias("wh"))
        .agg(
            F.count("*").alias("n_small_windows"),
            F.sum("n").alias("n_events"),
        )
    )
    name = _run_stream_to_memory(
        hourly.select(
            F.col("wh.start").alias("hour_start"),
            "n_small_windows",
            F.col("n_events").cast("long").alias("n_events"),
        ),
        "append",
    )
    return spark.table(name)


@query(
    "stream-rocksdb-state",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    doc="Streaming aggregation on the RocksDB state store provider "
    "(spark.sql.streaming.stateStore.providerClass) — the production "
    "state backend for LARGE state: the default HDFS-backed provider "
    "keeps every version of state in executor HEAP (state size bounded "
    "by JVM memory, GC pressure scales with it), while RocksDB spills "
    "to local SSD with changelog checkpointing, bounding heap use "
    "regardless of key cardinality — the difference between a 10M-key "
    "and a 10B-key dedup/session stream at cluster scale. Results "
    "must be BACKEND-INVARIANT: the oracle is the same batch "
    "aggregate the HDFS-provider ops check. Provider conf is pinned "
    "at query start from the session conf (set/restored try/finally); "
    "the checkpoint is provider-tagged because state files are not "
    "portable across providers.",
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, rocks)
    try:
        agg = (
            _events_stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
        )
        name = _run_stream_to_memory(agg, "complete")
        return spark.table(name)
    finally:
        if old is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, old)


@query(
    "stream-windowed-topk",
    oracle="""
        WITH agg AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n
            -- NULL event-time rows belong to NO window (see tumbling)
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        )
        SELECT window_start, event_type, n
        FROM (
            SELECT *, row_number() OVER (PARTITION BY window_start
                          ORDER BY n DESC, event_type) AS rk
            FROM agg
        ) WHERE rk = 1
        ORDER BY window_start
    """,
    doc="Per-window top-k over a stream: the leading event type in "
    "every tumbling hour. Rank-over-aggregate is not expressible "
    "inside a single streaming query (no window functions on "
    "streaming aggregates), so this op shows the PRODUCTION "
    "two-stage shape: a watermarked tumbling count maintains the "
    "per-(window, type) state stream-side (bounded by watermark), "
    "and the top-k rank runs batch-side over the materialized "
    "aggregate — exactly how leaderboards sit on top of a "
    "continuously-maintained rollup table. availableNow replay "
    "makes the composite deterministic and oracle-checkable "
    "against the batch equivalent.",
    tags=("streaming",),
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = _run_stream_to_memory(agg, "complete")
    mat = spark.table(name).select(
        F.col("window.start").alias("window_start"), "event_type", "n"
    )
    # NULLS LAST pinned on the tie-break: the NULL-type group is a real
    # contender (unknown-type traffic), but Spark ranks NULL FIRST on
    # asc while DuckDB ranks it LAST — an unpinned tie flips the winner
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc_nulls_last()
    )
    return (
        mat.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("window_start", "event_type", "n")
        .orderBy("window_start")
    )
