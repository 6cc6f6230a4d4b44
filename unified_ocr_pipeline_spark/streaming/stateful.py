"""Custom stateful streaming operator: per-host crawl-session tracking via
``applyInPandasWithState`` (SURVEY.md §2.10 — the arbitrary-stateful surface
the round brief adds beyond the reference's stateless cron loop).

Semantics: pages stream in grouped by host; state per host carries
(pages, bytes, first/last event-time millis, session count), where a new
session starts when the gap since the host's previous page exceeds
``session_gap`` — the same gap rule as the batch ``sessionize`` query, but
maintained INCREMENTALLY across micro-batches instead of recomputed over
history. Each invocation emits the host's current cumulative row (update
mode), so the sink always holds one latest row per host.

Scale posture: state is O(#hosts) × ~40 bytes — trivially partitioned by
the group key, no history retained (the whole point vs. a window over raw
events). Rows WITHIN a micro-batch are sorted by event time before the
fold; ACROSS micro-batches ordering follows micro-batch arrival, which for
a file-source crawl feed (monotone-ish warc_ts per host) is the standard
streaming-sessionization contract. Production eviction of dead hosts would
use ``GroupStateTimeout.EventTimeTimeout`` + a watermark; the in-memory
demo keeps ``NoTimeout`` so an availableNow drain never loses state early.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)


def _session_fold(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_ms: int,
) -> Iterator[pd.DataFrame]:
    (host,) = key
    if state.exists:
        n_pages, n_bytes, first_ms, last_ms, n_sessions = state.get
    else:
        n_pages, n_bytes, first_ms, last_ms, n_sessions = 0, 0, None, None, 0

    for pdf in pdfs:
        if not len(pdf):
            continue
        # deterministic within-batch order: event time then url
        pdf = pdf.sort_values(["ms", "url"])
        for ms, nb in zip(pdf["ms"], pdf["raw_bytes"]):
            ms = int(ms)
            if last_ms is None or ms - last_ms > gap_ms:
                n_sessions += 1
            first_ms = ms if first_ms is None else min(first_ms, ms)
            last_ms = ms if last_ms is None else max(last_ms, ms)
            n_pages += 1
            n_bytes += int(nb)

    state.update((n_pages, n_bytes, first_ms, last_ms, n_sessions))
    yield pd.DataFrame(
        {
            "host": [host],
            "n_pages": [n_pages],
            "n_bytes": [n_bytes],
            "first_ms": [first_ms],
            "last_ms": [last_ms],
            "n_sessions": [n_sessions],
        }
    )


def host_session_stats(
    pages_stream: DataFrame, session_gap: str = "30 minutes"
) -> DataFrame:
    """Streaming per-host cumulative session stats.

    ``pages_stream`` is a streaming DataFrame with (url, warc_ts, html).
    Returns a streaming DataFrame of SESSION_OUTPUT_SCHEMA rows (update
    semantics: latest cumulative row per host each micro-batch).
    """
    n, unit = session_gap.split()
    gap_ms = int(n) * {
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
    }[unit]

    prepped = pages_stream.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.col("url"),
        F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("ms"),
        F.octet_length(F.coalesce("html", F.lit(b""))).cast("long").alias(
            "raw_bytes"
        ),
        # a null warc_ts would reach the fold as NaN (nullable long →
        # float64 across Arrow) and int(NaN) raises — a poison-pill row
        # the checkpoint would replay forever. No event time → no place
        # in a session; drop at the source.
    ).where(F.col("ms").isNotNull())

    def fold(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
        return _session_fold(key, pdfs, state, gap_ms)

    return prepped.groupBy("host").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_host_session_stats(
    spark,
    pages_dir: str,
    checkpoint_dir: str,
    query_name: str = "host_sessions",
    session_gap: str = "30 minutes",
    max_files_per_trigger: int = 1,
):
    """Drive :func:`host_session_stats` with Trigger.AvailableNow over a
    pages directory; results land in the ``query_name`` in-memory table
    (update mode — dedupe to the last row per host when reading). Returns
    the started StreamingQuery."""
    from ..plans.extraction import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    out = host_session_stats(stream, session_gap=session_gap)
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", f"{checkpoint_dir}/sessions")
        .trigger(availableNow=True)
        .start()
    )


# --- streaming CDX revisit classification -------------------------------

REVISIT_STATE_SCHEMA = T.StructType(
    [T.StructField("last_digest", T.StringType())]
)

REVISIT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("surt", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("record_type", T.StringType()),
    ]
)


def _revisit_fold(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (last,) = state.get if state.exists else (None,)
    rows = pd.concat(list(pdfs), ignore_index=True)
    if rows.empty:
        return
    rows = rows.sort_values(["ms", "url"], kind="mergesort")
    kinds = []
    for dig in rows["digest"]:
        kinds.append("revisit" if dig == last else "response")
        last = dig
    state.update((last,))
    yield pd.DataFrame(
        {
            "surt": [key[0]] * len(rows),
            "ts": rows["ms"].astype("int64").values,
            "url": rows["url"].values,
            "digest": rows["digest"].values,
            "record_type": kinds,
        }
    )


def streaming_revisits(captures_stream: DataFrame) -> DataFrame:
    """Streaming CDX revisit classification: state per surt is ONE
    digest (the page's last seen content), a capture is a ``revisit``
    when its digest equals the previous capture's.

    This is the streaming rendering of ``operators/cdx.cdx_index`` with
    LAST-capture semantics (the archive's incremental behavior and the
    ``changed`` signal refresh_schedule consumes) rather than the batch
    index's any-prior-(surt,digest) grouping — an A→B→A history is
    response/response/response here, revisit only while unchanged.
    State is O(#pages) × one digest; append mode — each capture emits
    exactly one immutable row, so any sink works.

    ``captures_stream``: streaming (url, warc_ts, html) — the engine's
    canonical pages shape.
    """
    from ..functions.url import surt_key
    from ..operators.cdx import payload_digest

    prepped = captures_stream.select(
        surt_key(F.col("url")).alias("surt"),
        F.col("url"),
        F.unix_millis(F.col("warc_ts").cast("timestamp")).alias("ms"),
        payload_digest(F.col("html")).alias("digest"),
    ).where(F.col("ms").isNotNull())

    return prepped.groupBy("surt").applyInPandasWithState(
        _revisit_fold,
        outputStructType=REVISIT_OUTPUT_SCHEMA,
        stateStructType=REVISIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
