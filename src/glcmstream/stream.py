"""Structured Streaming pipelines over the pages stream (SURVEY.md §3.2).

The same kernel module backs batch and streaming by construction, so the
determinism gate (same input stream + watermark -> identical output rows,
BASELINE.json:6) reduces to Spark's own exactly-once machinery plus the
sum-monoid state in state.py.

Drain contract: `drain` is the one place the engine starts a streaming
query. It creates the checkpoint dir, runs the query with
trigger(availableNow=True) — every input file present at start, then
the trailing no-data epoch that lets the watermark close what is left —
and returns the terminated StreamingQuery. Given a foreachBatch function
it hands each epoch to it (sinks, emitters, MERGE); without one it
drains into a fresh memory table, named by the query's `name`. The
returned query carries the per-epoch progress (`recentProgress`) and
the last executed plan. An exception raised in an epoch re-raises from
here as a StreamingQueryException. Resuming from the same checkpoint
dir skips every committed epoch. A new streaming path drains through
here (or through `run_to_sink`), so anything that must see every epoch
hooks in at one function.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import config, plan


def read_pages_batch(spark: SparkSession, pages_dir: str) -> DataFrame:
    """Batch read of a pages dir with event-time-ready TIMESTAMP."""
    df = spark.read.parquet(pages_dir)
    if dict(df.dtypes)["warc_ts"] != "timestamp":
        df = df.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return df


def pages_stream(spark: SparkSession, pages_dir: str,
                 max_files_per_trigger: int | None = 1) -> DataFrame:
    """File micro-batch source over a pages parquet directory; one fixture
    file per epoch replays a deterministic batch sequence."""
    schema = spark.read.parquet(pages_dir).schema
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    sdf = r.parquet(pages_dir)
    if dict(sdf.dtypes)["warc_ts"] != "timestamp":
        sdf = sdf.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return sdf


def windowed_feature_agg(sdf: DataFrame,
                         window: str = config.TUMBLING_WINDOW,
                         watermark: str = config.WATERMARK_DELAY,
                         slide: str | None = None,
                         parallelism: int | None = None) -> DataFrame:
    """Built-in streaming aggregate of per-document Haralick features in
    tumbling (or sliding) event-time windows keyed by (lang, host).

    Featurize (Arrow UDF) runs map-side per micro-batch; only the six
    small doubles shuffle into the stateful aggregation — the html binary
    never crosses the exchange.
    """
    src = sdf.repartition(parallelism) if parallelism else sdf
    feats = (src.withColumn("f", plan.glcm_features_udf("html"))
             .select("url", "warc_ts", "lang",
                     *[F.col(f"f.{n}").alias(n)
                       for n in config.HARALICK_FEATURES]))
    return windowed_agg_over_features(feats, window=window,
                                      watermark=watermark, slide=slide)


def windowed_agg_over_features(feats: DataFrame,
                               window: str = config.TUMBLING_WINDOW,
                               watermark: str = config.WATERMARK_DELAY,
                               slide: str | None = None) -> DataFrame:
    """(url, warc_ts, lang, <6 features>) -> watermarked event-time window
    aggregate keyed by (lang, host). Shared by the classic UDF path and
    the fused manifest-scan path (fused.py) so both produce identical
    plans downstream of featurization."""
    feats = (feats.withWatermark("warc_ts", watermark)
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .drop("url"))
    win = (F.window("warc_ts", window, slide) if slide
           else F.window("warc_ts", window))
    return (feats.groupBy(win.alias("window"), "lang", "host")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 *[F.avg(n).alias(f"avg_{n}")
                   for n in config.HARALICK_FEATURES],
                 F.max("contrast").alias("max_contrast")))


def salted_windowed_doc_counts(sdf: DataFrame,
                               watermark: str = config.WATERMARK_DELAY,
                               buckets: int = config.SALT_BUCKETS
                               ) -> DataFrame:
    """Phase 1 of the two-phase salted streaming aggregate for hot-host
    key skew (BASELINE.json:14): group on (window, host, salt) so a hot
    host spreads over `buckets` state partitions. Phase 2
    (finalize_salted) re-combines per (window, host) *outside* the
    streaming query — chained stateful aggregations are rejected by
    Spark's correctness check, and at 100TB the partial stream is exactly
    what you want to sink anyway (compaction downstream). Exact for
    sum/count (algebraic)."""
    keyed = (sdf.withWatermark("warc_ts", watermark)
             .withColumn("host", F.try_parse_url("url", F.lit("HOST")))
             .withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(buckets))))
    return (keyed.groupBy(F.window("warc_ts", config.TUMBLING_WINDOW)
                          .alias("window"), "host", "salt")
            .agg(F.count(F.lit(1)).alias("n_part")))


def finalize_salted(partials: DataFrame) -> DataFrame:
    """Phase 2: combine salted partials into per-(window, host) totals."""
    return (partials.groupBy("window", "host")
            .agg(F.sum("n_part").alias("n_docs")))


def recrawl_stream_join(sdf: DataFrame, max_gap: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Stream-stream self-join correlating re-crawls of the same url
    within `max_gap` (BASELINE.json:6). Both sides watermarked + the join
    time-bound, so state is evictable (SURVEY.md §7 watch list)."""
    left = (sdf.select(F.col("url"), F.col("warc_ts").alias("t1"),
                       F.col("lang"))
            .withWatermark("t1", watermark))
    right = (sdf.select(F.col("url").alias("url2"),
                        F.col("warc_ts").alias("t2"))
             .withWatermark("t2", watermark))
    j = left.join(
        right,
        F.expr(f"url = url2 AND t2 > t1 AND t2 <= t1 + INTERVAL {max_gap}"))
    return j.select("url", "lang", "t1", "t2",
                    (F.unix_micros("t2") - F.unix_micros("t1"))
                    .alias("gap_us"))


def dedup_stream(sdf: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming URL dedup within the watermark horizon."""
    return (sdf.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url"]))


def drain(sdf: DataFrame, output_mode: str, checkpoint_dir: str,
          foreach_batch: Callable[[DataFrame, int], None] | None = None
          ) -> StreamingQuery:
    """availableNow run of `sdf` to termination (see the module
    docstring). Returns the terminated query; without `foreach_batch`
    its memory table is `spark.table(q.name)`."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    w = (sdf.writeStream.outputMode(output_mode)
         .option("checkpointLocation", checkpoint_dir))
    if foreach_batch is None:
        w = w.format("memory").queryName(f"drain_{uuid.uuid4().hex[:12]}")
    else:
        w = w.foreachBatch(foreach_batch)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_sink(sdf: DataFrame, table, checkpoint_dir: str,
                output_mode: str = "update") -> StreamingQuery:
    """availableNow run of a streaming DF into a sink's
    `commit(batch_df, epoch_id)`; returns the terminated query."""
    return drain(sdf, output_mode, checkpoint_dir, table.commit)
