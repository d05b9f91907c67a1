"""Structured Streaming surface (SURVEY.md §2.9 — optional extension).

The reference is a synchronous batch library; the streaming analogue is
``readStream`` on the pages table -> the SAME stateless extraction batch
function -> ``foreachBatch`` append through the commit seam. Stateless, so
no watermarks or state stores are required; exactly-once lands on the
commit semantics of the sink (Iceberg append per micro-batch on a real
cluster; parquet dirs here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..core.extract import Config
from .job import run_extraction
from .schemas import INPUT_SCHEMA


def read_pages_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over a pages parquet directory (the sandbox stand-in
    for an Iceberg snapshot stream)."""
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


HOST_STATS_SCHEMA = "host string, docs long, bytes long"
_HOST_STATE_SCHEMA = "docs long, bytes long"


def host_stats_stream(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-host document/byte counters over the page stream — the kind of
    crawl-accounting state a 10^12-doc ingest needs (e.g. per-host quotas).

    State = (docs, bytes) per host key; GroupStateTimeout disabled (counters
    live for the stream's lifetime). Emits one updated row per host per
    micro-batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        docs, nbytes = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            # vectorized byte length (html is a bytes column; str.len on an
            # object Series of bytes returns per-element len, NaN for None)
            nbytes += int(pdf["html"].str.len().fillna(0).sum())
        state.update((docs, nbytes))
        yield pd.DataFrame([{"host": key[0], "docs": docs, "bytes": nbytes}])

    # host key = the ONE shared URL grammar (analytics._host_of: lowercased
    # authority, trailing :port stripped) so the streaming rollup groups
    # exactly like every batch host-keyed operator — 'Example.COM:443' and
    # 'example.com' are the same host in both worlds
    from .analytics import _host_of

    hosts = pages_stream.withColumn("host", _host_of("url")).select(
        "host", "url", "html"
    )
    return hosts.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=HOST_STATS_SCHEMA,
        stateStructType=_HOST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_STREAM_SCHEMA = "url string, text_md5 string, first_seen boolean"
_DEDUP_STATE_SCHEMA = "seen long"


def dedup_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup (applyInPandasWithState): keyed by content
    digest, the FIRST document per digest across all micro-batches emits
    first_seen=true; every later arrival emits false. The streaming
    analogue of dedup_exact — an ingest pipeline drops rows where
    first_seen is false instead of re-running batch dedup over the
    accumulated table.

    State per digest is one counter (bounded by distinct-content count;
    at 10^12 docs shard the stream by digest prefix, which groupBy already
    does — state lives on the digest's partition). The digest is computed
    JVM-side (F.md5); Python only updates the tiny keyed counter."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            for url in pdf["url"]:
                out.append(
                    {"url": url, "text_md5": key[0], "first_seen": seen == 0}
                )
                seen += 1
        state.update((seen,))
        yield pd.DataFrame(out, columns=["url", "text_md5", "first_seen"])

    # md5 over the raw bytes (F.md5 takes binary; a string cast would
    # mangle non-UTF-8 payloads), null html folded to empty
    keyed = pages_stream.withColumn(
        "text_md5", F.md5(F.coalesce(F.col("html"), F.lit(b"")))
    ).select("text_md5", "url")
    # append output mode: every row is emitted exactly once and is final
    # (the flag never retracts), which also permits file sinks
    return keyed.groupBy("text_md5").applyInPandasWithState(
        update,
        outputStructType=DEDUP_STREAM_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LATEST_CAPTURE_STREAM_SCHEMA = (
    "canonical_url string, keep_id long, keep_ts long, n_captures long"
)
_LATEST_CAPTURE_STATE_SCHEMA = "best_ts long, best_id long, n long"


def latest_capture_stream(
    captures_stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming recrawl dedup — the stateful twin of
    analytics.latest_capture: keyed by canonical URL, state holds the
    current winning capture (newest ts, doc_id tie-break to the SMALLEST
    id — the exact batch keep rule) plus a capture counter. Each
    micro-batch emits the updated winner per touched key (update mode: a
    later recrawl may replace an earlier winner, so rows retract).

    Canonicalization (case-fold, default ports, fragments, tracking
    params, param sort) runs JVM-side via canonical_url_col before the
    shuffle, so cosmetic variants of one page land on one state key;
    Python only compares the tiny (ts, id) state. State is one row per
    distinct canonical URL — at 10^12 docs that shards by the groupBy
    key exactly like the digest state in dedup_stream."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .analytics import canonical_url_col

    def _key(ts, i):
        # mirrors the batch twin's max_by ordering struct(__ts, -__id)
        # with Spark's NULLS-FIRST struct-field semantics: non-null ts
        # beats null ts, newest ts wins, ties prefer the smallest
        # non-null id. NULL ts/id rows (NaN/None in pandas) are counted
        # but can only win when nothing better exists — they must never
        # raise and fail the micro-batch (batch tolerates them).
        return (
            ts is not None, ts if ts is not None else 0,
            i is not None, -i if i is not None else 0,
        )

    def update(key, pdfs, state):
        import pandas as _pd

        if state.exists:
            best_ts, best_id, n = state.get
            have = n > 0
        else:
            best_ts, best_id, n = None, None, 0
            have = False
        for pdf in pdfs:
            for ts, i in zip(pdf["__ts"], pdf["__id"]):
                ts = None if _pd.isna(ts) else int(ts)
                i = None if _pd.isna(i) else int(i)
                n += 1
                if not have or _key(ts, i) > _key(best_ts, best_id):
                    best_ts, best_id = ts, i
                    have = True
        state.update((best_ts, best_id, n))
        yield pd.DataFrame(
            [{
                "canonical_url": key[0], "keep_id": best_id,
                "keep_ts": best_ts, "n_captures": n,
            }]
        )

    keyed = captures_stream.select(
        canonical_url_col(url_col).alias("canonical_url"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(id_col).cast("long").alias("__id"),
    )
    return keyed.groupBy("canonical_url").applyInPandasWithState(
        update,
        outputStructType=LATEST_CAPTURE_STREAM_SCHEMA,
        stateStructType=_LATEST_CAPTURE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_rollup_stream(
    events_stream: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream — the
    late-data-tolerant streaming analogue of the batch events_hourly_rollup
    query. Windows finalize (and emit, in append mode) once the watermark
    passes their end, and their state is then evicted — bounded state even
    at 10^12 events. Per Spark's documented watermark contract, the delay
    is a CLEANUP bound: events later than it are guaranteed droppable, but
    a late event whose window state is still live merges into it (observed:
    a straggler arriving in the same batch that evicts its window is still
    counted)."""
    from pyspark.sql import functions as F

    # event-time columns must be TIMESTAMP (not NTZ) for watermarking; the
    # session zone is pinned to UTC (session.py) so the cast is zone-stable
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # group on the window STRUCT (projecting .start inside groupBy breaks
    # Spark's watermark-to-aggregate linkage); emit .start afterwards
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # exact-decimal sum (order-independent across micro-batches),
            # emitted in the hash-stable round+DOUBLE form — entryqueries
            # q_events_hourly is the batch twin and must stay aligned
            F.round(F.sum(F.col("value").cast("decimal(12, 2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window").start.alias("hour"), "event_type", "n_events", "sum_value"
        )
    )


SESSION_STREAM_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def user_sessions_stream(
    events_stream: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """Event-time session windows per user (the streaming analogue of the
    batch q_user_sessions): a session CLOSES when >gap_minutes of event
    time passes with no event, either because a later event arrives past
    the gap (split in the update call) or because the watermark passes
    last_event + gap with no event at all (EventTimeTimeout fires and the
    idle session flushes). Only CLOSED sessions are emitted — append-mode
    semantics with state bounded by the watermark.

    State per user = (session_start, last_event, count) in epoch micros.
    Correctness under reordering is watermark-scoped, as with any
    event-time sessionizer: an in-gap late arrival extends the open
    session backward (start shrinks); a late arrival older than the open
    session by more than the gap emits as its own single-event session
    immediately (multi-session state would be needed to merge several
    such stragglers); events later than the watermark delay may be
    dropped upstream entirely."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        def close(start_us, last_us, n):
            return {
                "user_id": key[0],
                "session_start": pd.Timestamp(start_us, unit="us"),
                "session_end": pd.Timestamp(last_us, unit="us"),
                "n_events": n,
            }

        closed = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append(close(start_us, last_us, n))
            state.remove()
            yield pd.DataFrame(closed)
            return
        cur = state.get if state.exists else None
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(ts_us):
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(close(*cur))
                cur = (t, t, 1)
            elif cur[0] - t > gap_us:
                # late event older than the open session by more than the
                # gap: it belongs to an EARLIER session, not this one —
                # emit it as its own session immediately (approximation:
                # further stale events for that earlier session would each
                # emit separately; exact merge would need multi-session
                # state, and the watermark bounds how stale this gets)
                closed.append(close(t, t, 1))
            else:
                # in-gap late event: extend the open session BACKWARD too
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # fire when the WATERMARK passes last_event + gap (ms epoch)
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(closed)

    events = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_STREAM_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def start_extraction_stream(
    pages_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    config: Config | None = None,
    run_id: str = "stream",
    available_now: bool = True,
):
    """Run the extraction pipeline as a stream; one parquet append per
    micro-batch via foreachBatch (commit boundary = micro-batch)."""
    config = config or Config()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        results = run_extraction(batch_df, config, run_id=f"{run_id}-{batch_id}")
        results.write.mode("append").parquet(output_path)

    writer = pages_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def decontaminate_stream(
    docs_stream: DataFrame, eval_docs: DataFrame, n: int = 13,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Streaming benchmark decontamination: flag documents in an ingest
    stream that share any whitespace-word n-gram with a static eval set —
    the streaming analogue of analytics.decontaminate, so contaminated
    docs are dropped at ingest instead of by a later batch sweep.

    Stateless by construction (append-mode safe, no watermark needed):
    all of a document's n-grams live in its own row, so the per-doc hit
    count is a JVM array_intersect against the eval gram set — aggregated
    ONCE into a single-row static frame (bounded by the eval suite, the
    same boundedness argument as the batch op's broadcast) and
    broadcast-cross-joined into every micro-batch."""
    from pyspark.sql import functions as F

    from .analytics import word_ngram_hash_col

    if hash_basis not in ("xxhash64", "md5"):
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")
    # the static side of a stream-static join re-evaluates per micro-batch;
    # persist so eval grams are computed once (collect_set already dedups)
    ev = (
        eval_docs.select(
            F.explode(word_ngram_hash_col(n, hash_basis)).alias("gram")
        )
        .agg(F.collect_set("gram").alias("eval_grams"))
        .persist()
    )
    hits = F.size(
        F.array_intersect(word_ngram_hash_col(n, hash_basis), F.col("eval_grams"))
    )
    return (
        docs_stream.crossJoin(F.broadcast(ev))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            hits.cast("long").alias("n_gram_hits"),
            (hits > 0).alias("contaminated"),
        )
    )
