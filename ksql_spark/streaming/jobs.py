"""Streaming jobs (SURVEY.md §2.I).

Design: every aggregation here reuses the SAME window expressions as the batch
queries in ksql_spark/queries/streaming_batch.py — batch/stream agreement is
the correctness argument for the streaming path (streaming results are not
DuckDB-checkable; SURVEY §5.2(5)).

Scale posture: watermarks bound state; windowed aggs shuffle on (window, key);
applyInPandasWithState keeps per-key state in the state store (RocksDB on a
real cluster), never in the driver.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

EVENTS_RAW_DDL = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def events_stream(spark: SparkSession, events_dir: str,
                  max_files_per_trigger: int = 1) -> DataFrame:
    """File-replayed events stream (I1). `events_dir` holds events parquet
    file(s) in either driver layout: TIMESTAMP(NANOS) (read as long via
    nanosAsLong, truncated to micros exactly like ksql_spark.tables.load) or
    plain TIMESTAMP(MICROS). A one-file footer probe picks the layout — the
    probe is a batch schema read, no data scan.

    One-layout-per-directory assumption: the probe inspects whichever file
    batch inference picks and applies that schema to every file in the dir.
    Mixing nanos-int64 and micros-timestamp files in one replay dir is not
    supported (the later-arriving layout would be misread); stage each layout
    in its own directory. An EMPTY dir is fine: the probe falls back to the
    driver's documented nanos layout (EVENTS_RAW_DDL) so the stream can be
    constructed before any files arrive — the standard replay pattern.
    """
    from pyspark.errors import AnalysisException

    try:
        probe_type = dict(spark.read.parquet(events_dir).dtypes).get("ts")
    except AnalysisException as ex:
        # ONLY the empty/missing-dir cases fall back to the driver layout;
        # anything else (corrupt footer, permissions) must stay loud here
        # rather than resurface later as a confusing schema mismatch.
        cond = (ex.getCondition() or "") if hasattr(ex, "getCondition") else ""
        if not ("UNABLE_TO_INFER_SCHEMA" in cond or "PATH_NOT_FOUND" in cond):
            raise
        probe_type = "bigint"
    if probe_type == "bigint":
        # Driver nanos layout: read int64 then truncate to micros.
        schema = EVENTS_RAW_DDL
        # TimestampType (not NTZ): watermarks require TIMESTAMP; session tz is
        # UTC so wall-clock values match the batch path's timestamp_ntz bitwise.
        ts_expr = F.timestamp_micros(F.expr("ts div 1000"))
    elif probe_type in ("timestamp", "timestamp_ntz"):
        schema = EVENTS_RAW_DDL.replace("ts long", f"ts {probe_type}")
        ts_expr = F.col("ts").cast("timestamp")
    else:
        # A missing/unexpected ts type must fail loudly here: falling through
        # to cast(long AS timestamp) would interpret int64 as epoch SECONDS —
        # a silent 10^6x error.
        raise ValueError(
            f"events dir {events_dir!r}: expected ts of type bigint/timestamp/"
            f"timestamp_ntz, probe found {probe_type!r}"
        )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(events_dir)
    )
    return raw.withColumn("ts", ts_expr)


def tumbling_counts(stream: DataFrame, width: str = "10 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """I2+I5: watermarked tumbling window counts — same window() expr as the
    batch query `stream_tumbling_window`."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """I4: session windows per user — same session_window() expr as the batch
    query `stream_session_window`."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """I6: streaming exact dedup on event_id.

    dropDuplicatesWithinWatermark evicts per-key state once the watermark
    passes the key's first-seen event time. Plain dropDuplicates(["event_id"])
    would never purge state (eviction requires the event-time column in the
    dedup subset), growing state unboundedly on a real stream.

    Semantics tradeoff (deliberate): a duplicate arriving AFTER the watermark
    has evicted its key's state is re-emitted — dedup is exact only within the
    watermark horizon. That is the only bounded-state contract a stream can
    honor; widen `watermark` if duplicates can straggle further, or use batch
    llm_dedup_exact downstream for a global pass.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """I7: arbitrary stateful op via applyInPandasWithState — per-user running
    event count + value sum, state kept in the store, updates emitted per batch."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state):
        import pandas as pd

        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def running_user_ewma(stream: DataFrame) -> DataFrame:
    """I7 [EXT]: per-user EWMA (alpha = 1/2) as CROSS-BATCH float state —
    the streaming twin of the batch entry events_ewma_smooth. State =
    (decay_sum, n over non-null values); each micro-batch folds its rows in
    (ts, event_id) order on top of the carried state, so after the last
    batch the state equals the batch fold over the full history — bitwise
    (Python floats are IEEE doubles and the fold sequence is identical).
    Emits the running state per key per batch (update mode)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, decay_sum double, n long"
    state_schema = "s double, n long"

    def update(key, pdfs, state):
        import pandas as pd

        s, n = (state.get if state.exists else (0.0, 0))
        # a key's batch rows may arrive as MULTIPLE chunks: concatenate
        # before sorting, or the fold order would only be chunk-local
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                if pd.isna(v):
                    continue  # collect_list parity: NULL values are skipped
                s = s / 2.0 + float(v)
                n += 1
        state.update((s, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "decay_sum": [s], "n": [n]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def view_purchase_join(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """I-family [EXT]: watermarked stream-stream inner join — each view event
    matched with the same user's purchases within the following hour.

    Both sides carry watermarks and the join condition time-bounds buy_ts
    against view_ts, so Spark can evict buffered state once the watermark
    passes view_ts + 1 hour — without the interval bound a stream-stream join
    would buffer forever. This is the canonical attribution-join shape at any
    scale; state is per-user-per-horizon, not per-stream."""
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    buys = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buyer_id"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", watermark)
    )
    return views.join(
        buys,
        F.expr(
            "user_id = buyer_id AND "
            "buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "view_id", "buy_id", "view_ts", "buy_ts", "buy_value")


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """I7 (Spark 4 API): same per-user running totals as running_user_totals,
    via transformWithStateInPandas — the successor to applyInPandasWithState.
    State is a typed ValueState in the state store (RocksDB on a real cluster);
    the handle API adds TTL, timers and multiple state variables per key,
    which the old API cannot express. Both variants are kept: the old one for
    parity with existing 3.x pipelines, this one as the forward path.

    Runtime requirements: RocksDBStateStoreProvider AND the `protobuf` package
    (the state-server client speaks protobuf to the JVM). This container has
    no protobuf, so the pipeline is exercised by a skip-gated test
    (tests/test_streaming.py) — the plan builds and analyzes regardless."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n LONG, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def run_available_now(df: DataFrame, name: str, output_mode: str) -> None:
    """Drain all available input into an in-memory table `name` and stop —
    the batch-equivalence test harness (and Trigger.AvailableNow demo, I8)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def snapshot_refresh(spark: SparkSession, interval: str = "10 seconds",
                     fixtures: str | None = None, client=None):
    """I8: periodic snapshot refresh — the reference schedules ONE reload after
    10 s in TTY mode (ksql.js:280, intent periodic; SURVEY §1.1). Here a rate
    source ticks and foreachBatch swaps snapshots: register_k8s_views points
    the k8s views at a new cached snapshot, which the next query fills with
    one list call per kind, and drops the previous one. `client` (kubeconfig.ClientConfig) must be forwarded in live mode —
    otherwise the refresh would silently swap live views back to fixtures.
    Returns the StreamingQuery (caller stops it)."""
    from ksql_spark.sources.k8s import register_k8s_views

    ticks = spark.readStream.format("rate").option("rowsPerSecond", 1).load()

    def refresh(batch_df, batch_id):
        register_k8s_views(spark, fixtures=fixtures, client=client)

    return (
        ticks.writeStream.foreachBatch(refresh)
        .trigger(processingTime=interval)
        .start()
    )


def make_upsert_batch_fn(table: str, on: list[str], assignments: dict[str, str],
                         ledger_dir: str | None, outer: SparkSession | None = None,
                         precedence: list[str] | None = None):
    """Build the foreachBatch(batch_df, batch_id) callable for upsert_stream.

    `precedence`: columns that decide which row wins an intra-batch key
    collision (e.g. ["event_ts"] — latest event wins), compared in list
    order, ties broken by the full payload struct so the winner stays
    value-deterministic. Default (None) keeps the struct-max-over-payload
    rule, which makes the FIRST payload column the de-facto precedence key —
    callers whose first payload column is not the intended ordering should
    pass `precedence` explicitly (ADVICE r7).

    Module-level (not a closure inside upsert_stream) so the replay guard is
    unit-testable without driving a StreamingQuery.

    Idempotence ledger: Structured Streaming re-runs the last uncommitted
    batch WITH THE SAME batch_id after a failure/restart. When `ledger_dir`
    is set, each applied batch drops a marker file `<ledger_dir>/<batch_id>`
    (tmp-write + atomic rename) and a replayed batch_id whose marker exists
    is skipped. Honest boundary: the marker lands AFTER the merge commits,
    so a crash in between still replays that one batch — with REPLACE
    assignments that replay converges to the same values (idempotent per
    key); for ADDITIVE assignments the ledger narrows double-apply from
    "every restart of an unacknowledged batch" to that single crash window.
    Closing it fully needs the marker to commit atomically WITH the data —
    a transactional table format (Delta/Iceberg txnAppId), out of scope for
    the parquet copy-on-write sink (dml.py atomicity notes)."""
    from ksql_spark import dml

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        marker = Path(ledger_dir) / str(batch_id) if ledger_dir else None
        if marker is not None and marker.exists():
            return  # replayed batch, already applied
        spark = batch_df.sparkSession
        # Intra-batch key collisions resolve to the GREATEST payload row
        # (lexicographic struct max over the non-key columns) — the same
        # value-deterministic tie rule as the SCD2 sink, so replaying a
        # batch with conflicting same-key rows converges instead of
        # keeping an arbitrary partition-order winner (ADVICE r6 class).
        payload = [c for c in batch_df.columns if c not in on]
        if payload:
            # ordering struct: caller-declared precedence columns first
            # (domain order, e.g. an event timestamp), full payload struct
            # last (value-deterministic tiebreak). With no precedence the
            # ordering IS the payload struct — the original rule.
            order_cols = list(precedence or []) + payload
            packed = batch_df.groupBy(*on).agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in payload]),
                    F.struct(*[F.col(c) for c in order_cols]),
                ).alias("_r")
            )
            deduped = packed.select(
                *[
                    F.col(c) if c in on else F.col(f"_r.{c}").alias(c)
                    for c in batch_df.columns
                ]
            )
        else:
            deduped = batch_df.dropDuplicates(on)
        # Same writer lock as run_dml: the copy-on-write swap is unsafe under
        # concurrent in-process DML (e.g. an HTTP --allow-dml server in the
        # same process) — the micro-batch writer must serialize with them.
        with dml._DML_LOCK:
            dml.merge_into(
                spark, table, deduped, on=on,
                when_matched_update=assignments,
                when_not_matched_insert=True,
            )
        # the swap's REFRESH ran on the (possibly cloned) session; the outer
        # session's relation cache still points at the dropped snapshot
        # dir — refresh it too or the next read file-not-founds
        if outer is not None:
            outer.sql(f"REFRESH TABLE {table}")
        if marker is not None:
            marker.parent.mkdir(parents=True, exist_ok=True)
            tmp = marker.with_suffix(".tmp")
            tmp.write_text("applied")
            os.replace(tmp, marker)

    return apply_batch


def upsert_stream(stream: DataFrame, table: str, on: list[str],
                  assignments: dict[str, str], checkpoint: str,
                  precedence: list[str] | None = None):
    """I-family [EXT]: streaming upsert — each micro-batch MERGEs into a
    catalog table via dml.merge_into (the CDC apply pattern: the latest state
    per key lands in a queryable table).

    Semantics: REPLACE, not accumulate — `assignments` should set columns from
    `src.<col>` (e.g. {"n": "src.n"}). Streaming aggregations already emit
    CUMULATIVE per-key state in update mode, so an additive merge would
    double-count; replace converges to the latest emitted state per key.
    `checkpoint` is required: it is what makes re-starts process only NEW
    input. Exactly-once table state = replace idempotence + the batch-id
    ledger at `<checkpoint>/_applied_batches` (see make_upsert_batch_fn for
    the replay-guard contract and its honest crash-window boundary).

    Per-batch dedup keeps the ANSI one-source-row-per-key contract. The
    single-writer limit of dml.py applies per batch; a v2 ACID sink lifts it.
    Returns the StreamingQuery (caller awaits/stops)."""
    outer = stream.sparkSession  # foreachBatch hands us a CLONED session
    apply_batch = make_upsert_batch_fn(
        table, on, assignments,
        ledger_dir=f"{checkpoint}/_applied_batches", outer=outer,
        precedence=precedence,
    )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_topk_types(stream: DataFrame, width: str = "10 minutes",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming top-k event types per tumbling window.

    Structured Streaming cannot rank WITHIN an unfinished streaming
    aggregation (a window function over a streaming agg is unsupported), so
    the composition is: watermarked windowed counts in APPEND mode — each
    (window, type) row emits exactly once, when the watermark closes its
    window — then the per-window rank runs in the SINK via foreachBatch
    (ksql_spark.streaming.jobs.run_topk_sink) where every closed window's
    rows are complete by construction. Batch/stream agreement for the
    identical expressions is the correctness argument (test_streaming.py).
    """
    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return counts


def run_topk_sink(
    counts: DataFrame, name: str, k: int = 3, timeout_sec: int = 120
) -> None:
    """Drain `counts` (append-mode closed-window rows) ranking each batch's
    windows into a managed table `topk_acc_<name>` — per batch: rank by
    (n_events DESC, event_type) within win_start, keep top k. Rows for a
    given window arrive in ONE batch (append fires at window close), so the
    per-batch rank is the per-window rank.

    Idempotent per batch_id: the table is partitioned by `_batch_id` and
    each micro-batch dynamic-partition-OVERWRITES its own partition, so a
    mid-run retry of a failed batch replaces its rows instead of appending
    duplicates (exactly-once on top of the checkpoint's at-least-once). The
    RUN's first batch overwrites the whole table (clearing any stale table
    or orphaned warehouse dir from a previous run/process).

    Raises TimeoutError if the query has not terminated within
    `timeout_sec` — the previous behavior of returning silently left the
    query running with the table partially populated and no signal."""
    from pyspark.sql import Window as W

    first_batch_done = {"v": False}
    table = f"topk_acc_{name}"

    def rank_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        w = W.partitionBy("win_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
        out = (
            batch_df.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .withColumn("_batch_id", F.lit(batch_id))
        )
        sess = out.sparkSession
        if not first_batch_done["v"]:
            # fresh run: replace stale results; also clear an orphaned
            # managed location a dead prior PROCESS may have left behind
            # with no catalog entry (saveAsTable refuses otherwise)
            if not sess.catalog.tableExists(table):
                import shutil

                warehouse = sess.conf.get(
                    "spark.sql.warehouse.dir"
                ).removeprefix("file:")
                shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)
            out.write.mode("overwrite").partitionBy("_batch_id").saveAsTable(table)
            first_batch_done["v"] = True
        else:
            # dynamic partition overwrite: replaces ONLY the partitions
            # present in `out` (this batch_id) — append semantics for new
            # batches, replace semantics for a retried one.
            prev = sess.conf.get("spark.sql.sources.partitionOverwriteMode")
            sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                # insertInto is positional: match the table's column order
                out.select(*sess.table(table).columns).write.insertInto(
                    table, overwrite=True
                )
            finally:
                sess.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    q = (
        counts.writeStream.foreachBatch(rank_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"run_topk_sink({name!r}): query did not terminate within "
            f"{timeout_sec}s; stopped it — {table} may be partial"
        )


def run_bloom_sink(docs_stream: DataFrame, name: str, timeout_sec: int = 120) -> None:
    """Maintain an INCREMENTAL Bloom decontamination sketch over a document
    stream: each micro-batch's distinct 5-gram bloom words (queries/llm.py:
    bloom_sketch) bit_or-merge into the managed table `bloom_acc_<name>`.

    Why this is the right streaming shape for a sketch: bit_or is
    associative, commutative AND idempotent, so the merge is replay-safe by
    construction — an at-least-once redelivery of a batch ORs the same bits
    again and changes nothing (no batch-id ledger needed, unlike the top-k
    sink). The accumulator RESUMES across invocations: if bloom_acc_<name>
    already exists, every batch — including the first — merges into it
    (grams only ever accumulate; a decontamination filter must never
    forget). Start fresh by DROP TABLE first. The accumulator is <= 128
    rows by the sketch geometry, so the per-batch collect-and-rewrite is
    driver-bounded by design (the same rationale as operators/scale.py's
    #partitions-row offset collect); the heavy work — gram explode +
    position hashing — stays distributed in the batch plan.
    tests/test_streaming.py asserts the stream-maintained sketch equals
    the single-pass batch sketch BITWISE and that re-running the whole
    stream against the existing accumulator changes nothing."""
    from ksql_spark.operators import text
    from ksql_spark.queries.llm import bloom_sketch

    def batch_sketch(batch_df):
        return bloom_sketch(
            batch_df.select(
                F.explode(F.array_distinct(text.shingles("text", 5))).alias(
                    "gram"
                )
            ).distinct()
        )

    _run_sketch_sink(
        docs_stream,
        table=f"bloom_acc_{name}",
        batch_sketch=batch_sketch,
        key_cols=["word_idx"],
        merge_agg=lambda: F.bit_or("bits").alias("bits"),
        schema="word_idx bigint, bits bigint",
        timeout_sec=timeout_sec,
        job="run_bloom_sink",
    )


def run_cms_sink(
    docs_stream: DataFrame,
    name: str,
    timeout_sec: int = 120,
    resume: bool = False,
) -> None:
    """Maintain an INCREMENTAL Count-Min frequency sketch over a document
    stream: each micro-batch's word counters (queries/llm.py:cms_sketch)
    SUM-merge into the managed table `cms_acc_<name>` — the frequency
    companion of run_bloom_sink's membership filter.

    THE semantic difference from the bloom sink: SUM is associative and
    commutative but NOT idempotent, so re-running the whole stream into a
    surviving accumulator silently doubles every counter. That hazard is
    structural here, not documentation-only: with resume=False (default)
    this function REFUSES to start if `cms_acc_<name>` already exists —
    DROP TABLE for a fresh sketch, or pass resume=True when the new
    invocation genuinely carries only unseen data (counts then accumulate;
    a replayed batch over-estimates, which CMS's one-sidedness tolerates
    but never silently by default). tests/test_streaming.py pins stream ==
    batch equality for a single pass AND the refusal."""
    from ksql_spark.operators import text
    from ksql_spark.queries.llm import cms_sketch

    table = f"cms_acc_{name}"
    if not resume and docs_stream.sparkSession.catalog.tableExists(table):
        raise ValueError(
            f"run_cms_sink({name!r}): accumulator table {table} already "
            "exists and SUM-merge is not idempotent — a re-run would "
            "double-count. DROP TABLE it for a fresh sketch, or pass "
            "resume=True if this stream carries only unseen data."
        )

    def batch_sketch(batch_df):
        return cms_sketch(
            batch_df.select(F.explode(text.words("text")).alias("w"))
        )

    _run_sketch_sink(
        docs_stream,
        table=table,
        batch_sketch=batch_sketch,
        key_cols=["j", "pos"],
        merge_agg=lambda: F.sum("cnt").alias("cnt"),
        schema="j int, pos bigint, cnt bigint",
        timeout_sec=timeout_sec,
        job="run_cms_sink",
    )


def run_hll_sink(
    events_stream: DataFrame, name: str, timeout_sec: int = 120
) -> None:
    """Maintain an INCREMENTAL per-event-type HyperLogLog user-cardinality
    sketch over an event stream: each micro-batch's Datasketches HLL
    (hll_sketch_agg over user_id, grouped by event_type) merges into the
    managed table `hll_acc_<name>` via hll_union_agg — completing the
    sketch-sink trio: Bloom = membership, CMS = frequency, HLL =
    cardinality.

    Replay semantics sit with Bloom on the idempotent side of the split:
    HLL union takes the register-wise MAX, so it is associative,
    commutative AND idempotent — an at-least-once redelivery merges the
    same registers again and every estimate ever read is unchanged; the
    accumulator RESUMES across invocations exactly like run_bloom_sink
    (cardinality only ever grows; DROP TABLE to start fresh). One caveat
    vs bloom's bit words: below the dense-HLL threshold Datasketches
    serializes the coupon LIST/SET in insertion order, so the stored BYTES
    are not canonical across replays even though the represented set — and
    thus hll_sketch_estimate — is (the test pins estimate-invariance). The accumulator is |event_types|
    rows of one bounded binary sketch each, so the per-batch
    collect-and-rewrite is driver-bounded by the sketch geometry while the
    heavy distinct-hashing stays distributed in the batch plan.
    tests/test_streaming.py pins stream estimate == single-pass batch
    estimate per type, replay invariance, and split-invocation resume."""

    def batch_sketch(batch_df):
        return batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )

    _run_sketch_sink(
        events_stream,
        table=f"hll_acc_{name}",
        batch_sketch=batch_sketch,
        key_cols=["event_type"],
        merge_agg=lambda: F.hll_union_agg("sk").alias("sk"),
        schema="event_type string, sk binary",
        timeout_sec=timeout_sec,
        job="run_hll_sink",
    )


def run_histogram_sink(
    stream: DataFrame,
    name: str,
    col: str,
    mn: float,
    width: float,
    bins: int = 64,
    timeout_sec: int = 120,
    resume: bool = False,
) -> None:
    """Maintain an INCREMENTAL equi-width histogram quantile sketch over a
    numeric stream column: each micro-batch's bin counts SUM-merge into the
    managed table `hist_acc_<name>` — the quantile member of the sketch-sink
    family (bloom = membership, CMS = frequency, HLL = cardinality,
    histogram = quantiles; queries/aggregates.py:agg_histogram_quantile is
    the batch twin whose cdf-interpolation read applies unchanged to the
    accumulator).

    Bin BOUNDS are parameters, not computed: a stream cannot know its final
    min/max, so the caller pins (mn, width) from ingest stats — the honest
    streaming contract for any bounded-geometry sketch (same reason the CMS
    grid and bloom bit count are fixed up front). Values below mn clamp to
    bin 0, above the top to bin bins-1, so the cdf stays total. SUM-merge
    is NOT idempotent: like run_cms_sink this REFUSES to start over an
    existing accumulator unless resume=True (a replayed batch would double
    counts and silently shift every quantile — worse than CMS, where
    one-sidedness at least bounds the lie). tests/test_streaming.py pins
    stream == batch bin-count equality and the refusal."""
    table = f"hist_acc_{name}"
    if not resume and stream.sparkSession.catalog.tableExists(table):
        raise ValueError(
            f"run_histogram_sink({name!r}): accumulator table {table} "
            "already exists and SUM-merge is not idempotent — a re-run "
            "would double-count. DROP TABLE it for a fresh sketch, or "
            "pass resume=True if this stream carries only unseen data."
        )

    def batch_sketch(batch_df):
        return (
            batch_df.where(F.col(col).isNotNull())
            .select(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(bins - 1),
                        F.floor((F.col(col) - F.lit(mn)) / F.lit(width)),
                    ),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
        )

    _run_sketch_sink(
        stream,
        table=table,
        batch_sketch=batch_sketch,
        key_cols=["bin"],
        merge_agg=lambda: F.sum("cnt").alias("cnt"),
        schema="bin bigint, cnt bigint",
        timeout_sec=timeout_sec,
        job="run_histogram_sink",
    )


def _run_sketch_sink(
    stream: DataFrame,
    *,
    table: str,
    batch_sketch,
    key_cols: list[str],
    merge_agg,
    schema: str,
    timeout_sec: int,
    job: str,
) -> None:
    """Shared engine for incremental mergeable-sketch maintenance: per
    micro-batch, build the batch's sketch rows (distributed), merge them
    with the existing accumulator under `merge_agg` over `key_cols`, and
    rewrite the (sketch-geometry-bounded) accumulator table. Resumes any
    existing accumulator — see run_bloom_sink for the rationale."""
    first_batch_done = {"v": False}
    outer = stream.sparkSession  # foreachBatch hands us a CLONED session

    def merge(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        sk = batch_sketch(batch_df)
        # merge with ANY existing accumulator — not just this run's: a new
        # invocation RESUMES the sketch (an earlier revision gated this on
        # a process-local flag, silently discarding prior state on every
        # fresh call, which is exactly wrong for a never-forget filter)
        if sess.catalog.tableExists(table):
            sk = sess.table(table).unionByName(sk).groupBy(*key_cols).agg(
                merge_agg()
            )
        elif not first_batch_done["v"]:
            # no catalog entry: clear an orphaned managed location a dead
            # prior PROCESS may have left (saveAsTable refuses otherwise).
            # Scope (ADVICE r5): this cleanup applies ONLY to local file:
            # warehouses — the default-database path join below doesn't
            # model custom database locations or URI encoding, and
            # shutil can't touch hdfs:/s3: anyway. On any other scheme we
            # skip and let saveAsTable fail loudly on the orphan, which
            # the operator must clear with their own FS tooling.
            warehouse = sess.conf.get("spark.sql.warehouse.dir")
            if warehouse.startswith("file:") or "://" not in warehouse:
                import shutil

                shutil.rmtree(
                    f"{warehouse.removeprefix('file:')}/{table}",
                    ignore_errors=True,
                )
        # materialize before overwriting the table the plan reads from;
        # bounded by the sketch geometry (128 bloom words / 2048 CMS rows)
        rows = sk.collect()
        sess.createDataFrame(rows, schema=schema).write.mode(
            "overwrite"
        ).saveAsTable(table)
        # the overwrite replaced the table's files under the same path —
        # drop the stale file-listing/metadata cache in BOTH the cloned
        # micro-batch session and the caller's outer session, or the next
        # read hits FAILED_READ_FILE on the vanished old part files
        sess.catalog.refreshTable(table)
        outer.catalog.refreshTable(table)
        first_batch_done["v"] = True

    q = (
        stream.writeStream.foreachBatch(merge)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{job}({table!r}): query did not terminate within {timeout_sec}s"
        )


def make_scd2_batch_fn(table: str, key: str, state_col: str, ts_col: str,
                       ledger_dir: str | None = None,
                       outer: SparkSession | None = None):
    """foreachBatch callable for scd2_stream — type-2 history apply.

    Each micro-batch turns change events into SCD2 version rows
    (key, state, valid_from, valid_to; NULL valid_to = current) by
    REBUILDING the affected keys' histories declaratively: existing
    version rows of touched keys union the batch's change rows, reduced to
    one row per (key, valid_from) by MAX(state) — a value-deterministic
    tie rule — then valid_to recomputed as LEAD(valid_from) per key.
    Untouched keys carry over unchanged.

    Replay contract: the rebuild is a deterministic pure function of
    {existing rows ∪ batch rows}, and a replayed batch adds rows that are
    already present — distinct collapses them, so re-applying ANY batch
    converges to the same table (idempotent even in the ledger's
    post-merge crash window; the ledger then only saves work, never
    correctness — stronger than the upsert sink's additive caveat).

    Scale note: this sandbox's parquet sink rewrites the whole table per
    batch (the dml.py copy-on-write boundary). At 100 TB the same plan
    writes only affected partitions — partition the version table by
    bucket(key) and replaceWhere the touched buckets; the rebuild logic
    (union → distinct → per-key LEAD) is unchanged and shuffles only the
    touched keys' rows."""
    from pyspark.sql import Window

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        marker = Path(ledger_dir) / str(batch_id) if ledger_dir else None
        if marker is not None and marker.exists():
            return
        spark = batch_df.sparkSession
        # Tie rule (ADVICE r6): two change events with the same (key, ts)
        # but different states resolve to the GREATEST state (SQL MAX —
        # NULL loses to any non-NULL). A value-deterministic reduction, so
        # the rebuild stays a pure function of the row set under replay;
        # dropDuplicates would keep an arbitrary partition-order winner.
        changes = (
            batch_df.select(
                F.col(key).alias("k"),
                F.col(state_col).alias("state"),
                F.col(ts_col).alias("valid_from"),
            )
            .groupBy("k", "valid_from")
            .agg(F.max("state").alias("state"))
            .select("k", "state", "valid_from")
        )
        if spark.catalog.tableExists(table):
            existing = spark.table(table).select(
                "k", "state", "valid_from"
            )
            touched = changes.select("k").distinct()
            keep = spark.table(table).join(touched, "k", "left_anti")
            pool = (
                existing.join(touched, "k", "left_semi")
                .unionByName(changes)
                .groupBy("k", "valid_from")
                .agg(F.max("state").alias("state"))
                .select("k", "state", "valid_from")
            )
        else:
            keep = None
            pool = changes
        w = Window.partitionBy("k").orderBy("valid_from")
        rebuilt = pool.select(
            "k",
            "state",
            "valid_from",
            F.lead("valid_from").over(w).alias("valid_to"),
        )
        new_table = (
            rebuilt if keep is None else keep.unionByName(rebuilt)
        ).localCheckpoint()  # break the read->overwrite cycle
        from ksql_spark import dml

        with dml._DML_LOCK:
            new_table.write.mode("overwrite").saveAsTable(table)
        if outer is not None:
            outer.sql(f"REFRESH TABLE {table}")
        if marker is not None:
            marker.parent.mkdir(parents=True, exist_ok=True)
            tmp = marker.with_suffix(".tmp")
            tmp.write_text("applied")
            os.replace(tmp, marker)

    return apply_batch


def scd2_stream(stream: DataFrame, table: str, key: str, state_col: str,
                ts_col: str, checkpoint: str):
    """I16 [EXT]: streaming SCD2 history sink — change events become a
    queryable type-2 dimension (key, state, valid_from, valid_to) with
    the full state history, the table join_pit_state-style point-in-time
    joins consume. See make_scd2_batch_fn for the rebuild + replay
    contract. Returns the StreamingQuery."""
    outer = stream.sparkSession
    apply_batch = make_scd2_batch_fn(
        table, key, state_col, ts_col,
        ledger_dir=f"{checkpoint}/_applied_batches", outer=outer,
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
