"""Structured Streaming surface: incremental ingest of a pages directory.

The batch pipeline is the north-rule deliverable (Iceberg-snapshot
incrementality); this module is the streaming twin for continuous crawls:
  - `stream_pages`: readStream over a parquet drop directory,
  - `stream_normalize`: the same stage-0 projection as the batch path,
  - `stream_dedup_counts`: watermarked sliding-window exact-dup counting
    (md5 groupBy) — late captures beyond the watermark are dropped,
  - `run_available_now`: drain everything currently in the directory
    (testable without a long-lived query).

All transformations reuse the batch column expressions, so streaming and
batch results agree by construction (same Catalyst plans under the hood).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .ops.web import canonical_url
from .pipeline.extract import extract_text, host_of

PAGES_STREAM_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 8
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_normalize(pages: DataFrame, text_from_html: bool = False) -> DataFrame:
    """Stage-0 projection for streams. Url identity matches the batch path
    (ops/web.canonical_url — per-row expressions, streaming-safe); recrawl
    LATEST-WINS dedup is not expressible over an unbounded stream, so
    streams dedup FIRST-SEEN per (host, text_md5) via the stateful op
    below instead."""
    df = pages
    if text_from_html:
        df = df.withColumn("text", extract_text(F.col("html")))
    return (
        df.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn("host", host_of(F.col("canonical_url")))
        .withColumn("norm_text", F.upper(F.translate(F.col("text"), "-", " ")))
    )


def stream_dedup_counts(
    norm: DataFrame, watermark: str = "1 day", window: str = "1 day"
) -> DataFrame:
    """(window, text_md5, n_dupes) with late-data handling: captures older
    than the watermark are dropped instead of reopening closed windows."""
    return (
        norm.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            F.md5(F.col("norm_text")).alias("text_md5"),
        )
        .agg(F.count("*").alias("n_dupes"))
        .select(F.col("w.start").alias("window_start"), "text_md5", "n_dupes")
    )


FIRST_SEEN_SCHEMA = StructType(
    [
        StructField("host", StringType(), True),
        StructField("url", StringType(), True),
        StructField("text_md5", StringType(), True),
    ]
)

_FIRST_SEEN_STATE = StructType(
    [StructField("seen", StringType(), True)]  # comma-joined md5 set
)


def stream_first_seen(
    norm: DataFrame,
    max_entries_per_host: int = 1_000_000,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful operator: first-seen exact dedup per host.

    ``applyInPandasWithState`` keeps a per-host set of content hashes in
    the state store; only the first occurrence of each (host, text_md5) is
    emitted, across micro-batches and across restarts (state lives in the
    checkpoint). This is the pattern for stateful ops the built-ins can't
    express; for plain streaming dedup prefer ``dropDuplicates`` +
    watermark (RocksDB-backed, bounded state).

    State discipline (what actually bounds it — per-host page counts alone
    do NOT, a large host streams forever):
      - per-batch work is O(new hashes): the stored string is append-only,
        never re-sorted or rebuilt;
      - ``max_entries_per_host`` hard-caps the set. A saturated host keeps
        emitting (a dup may then re-emit rather than rows silently
        vanishing — the recall-safe failure mode) and stops growing;
      - ``ttl_minutes`` expires idle hosts' state entirely
        (ProcessingTimeTimeout), so the store tracks active hosts, not
        all hosts ever seen.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    use_ttl = ttl_minutes is not None

    def fn(key, pdfs, state: GroupState):
        if use_ttl and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"host": [], "url": [], "text_md5": []}
            ).astype({"host": str, "url": str, "text_md5": str})
            return
        stored = state.get[0] if state.exists else ""
        seen = set(stored.split(",")) if stored else set()
        fresh: list[str] = []
        out_urls, out_md5s = [], []
        for pdf in pdfs:
            for url, md5 in zip(pdf["url"], pdf["text_md5"]):
                if md5 not in seen:
                    if len(seen) < max_entries_per_host:
                        seen.add(md5)
                        fresh.append(md5)
                    out_urls.append(url)
                    out_md5s.append(md5)
        if fresh:
            # append-only: O(|fresh|) string build, no re-sort of |seen|
            stored = (stored + "," if stored else "") + ",".join(fresh)
            state.update((stored,))
        if use_ttl:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                "host": [key[0]] * len(out_urls),
                "url": out_urls,
                "text_md5": out_md5s,
            }
        )

    keyed = norm.select(
        "host", "url", F.md5(F.col("norm_text")).alias("text_md5")
    )
    return keyed.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_ttl
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_available_now(
    result: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Drain all currently-available input and stop (batch-equivalent run;
    restartable from the checkpoint for incremental catch-up)."""
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_incremental_er(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    edge_fn=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 16,
    num_bands: int = 4,
    bucket_cap: int = 500,
):
    """Maintain entity clusters over a document stream, one micro-batch at
    a time, with the batch-equivalence-proved incremental path
    (pipeline/incremental.py): each batch LSH-probes only the buckets it
    touches and re-clusters only the components its edges reach.

    State layout under ``state_dir`` (parquet; an Iceberg deployment makes
    these tables with snapshot-per-batch):

        docs/v{batch_id}/    the batch's (id, text) rows
        bands/v{batch_id}/   the batch's banded-signature rows
                             (ops.dedup.lsh_band_rows output)
        assign/v{batch_id}/  full (id, component) assignment after batch

    Signatures are computed ONCE per document, in the batch that first
    delivers it; each micro-batch probes the accumulated ``bands`` state
    through :func:`pipeline.incremental.incremental_candidates_from_bands`
    (bucket-local against the batch's hot buckets), so per-batch compute
    and shuffle stay O(batch), not O(corpus-so-far). When ``edge_fn`` is
    None the accumulated docs state is never even read.

    Restart/exactly-once: foreachBatch may re-deliver a batch after a
    crash with the SAME batch_id; both writes are keyed by batch_id and
    the previous state is read as ``max(version) < batch_id``, so a
    re-run overwrites its own output idempotently instead of
    double-applying it.

    ``edge_fn(docs, cand) -> DataFrame(id_1, id_2)`` turns candidate
    pairs into edges (e.g. alignment-score threshold). ``docs`` is the
    corpus so far, (``id_col``, ``text_col``, is_new); ``cand`` is the
    batch's candidate pairs (id_1, id_2), id_1 < id_2, each touching
    >= 1 new document. Default keeps every LSH candidate (pure near-dup
    clustering).

    Returns the foreachBatch-ready ``StreamingQuery``.
    """
    from pathlib import Path

    from globalign_spark.ops import dedup
    from globalign_spark.pipeline.incremental import (
        incremental_candidates_from_bands,
        incremental_components,
    )

    root = Path(state_dir)

    def _versions(sub: str, below: int) -> list[Path]:
        base = root / sub
        if not base.is_dir():
            return []
        out = []
        for p in base.iterdir():
            if p.name.startswith("v") and p.name[1:].isdigit():
                if int(p.name[1:]) < below:
                    out.append(p)
        return sorted(out, key=lambda p: int(p.name[1:]))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).dropDuplicates([id_col])
        band_dirs = _versions("bands", batch_id)
        assign_dirs = _versions("assign", batch_id)
        old_bands = None
        if band_dirs:
            old_bands = spark.read.parquet(*[str(p) for p in band_dirs])
            # re-delivered rows (source overlap) count as old, not new;
            # the signature state carries the full seen-id set, so the
            # wide docs state is not read for this.
            batch = batch.join(
                old_bands.select(F.col("_id").alias(id_col)).distinct(),
                id_col, "left_anti",
            )
        if assign_dirs:
            old_assign = spark.read.parquet(str(assign_dirs[-1]))
        else:
            old_assign = None
        # The batch frame feeds >= 2 actions (bands/signature pass, docs
        # state write, optionally edge scoring); without a persist each
        # action re-reads the source files — measured as numInputRows
        # = 2x the trigger's actual rows, i.e. doubled ingest I/O at
        # crawl scale. Cache once, release at the end of the trigger.
        batch = batch.persist()

        # try/finally: an exception anywhere in the trigger body (e.g. a
        # failed parquet write) must still release the cached batch —
        # foreachBatch RETRIES the trigger, and a leak per retry
        # accumulates dead cached partitions over a long-lived stream
        # (ADVICE r4).
        try:
            # One signature pass per document, in the batch that delivers
            # it; checkpointed because the rows feed both the probe and
            # the bands-state write below.
            new_bands = dedup.lsh_band_rows(
                batch, id_col, text_col, k, num_perm, num_bands
            ).localCheckpoint()
            cand = incremental_candidates_from_bands(
                old_bands if old_bands is not None else new_bands.limit(0),
                new_bands, bucket_cap=bucket_cap,
            )
            if edge_fn is not None:
                doc_dirs = _versions("docs", batch_id)
                corpus = batch.withColumn("is_new", F.lit(True))
                if doc_dirs:
                    corpus = (
                        spark.read.parquet(*[str(p) for p in doc_dirs])
                        .withColumn("is_new", F.lit(False))
                        .unionByName(corpus)
                    )
                edges = edge_fn(corpus, cand)
            else:
                edges = cand
            if old_assign is None:
                from globalign_spark.pipeline.clustering import (
                    connected_components,
                )

                assign = connected_components(
                    edges, src="id_1", dst="id_2"
                ).select(F.col("id"), F.col("component"))
            else:
                assign = incremental_components(old_assign, edges)
            # batch_id-keyed writes: idempotent under foreachBatch
            # re-delivery
            assign.write.mode("overwrite").parquet(
                str(root / "assign" / f"v{batch_id}")
            )
            batch.write.mode("overwrite").parquet(
                str(root / "docs" / f"v{batch_id}")
            )
            new_bands.write.mode("overwrite").parquet(
                str(root / "bands" / f"v{batch_id}")
            )
        finally:
            batch.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_assignment(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the newest assign/v* written by :func:`stream_incremental_er`."""
    from pathlib import Path

    base = Path(state_dir) / "assign"
    vs = [
        p for p in base.iterdir()
        if p.name.startswith("v") and p.name[1:].isdigit()
    ]
    latest = max(vs, key=lambda p: int(p.name[1:]))
    return spark.read.parquet(str(latest))
