package graft.streaming
import graft.Pinned.PinnedOps

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.tick.TickStore

/** Structured Streaming surface (SURVEY §2.B streaming row): the
  * streaming analog of the tick ingest + windowed-aggregation paths.
  * The reference's closest feature is HTTP push ingest (A6); here the
  * same semantics run as micro-batched streams with event-time
  * windows, watermarks, and exactly-once sinks.
  */
object StreamingOps {

  private val nameCounter = new AtomicInteger(0)

  /** The events parquet schema as a stream source schema. The `ts`
    * column's physical type has varied across testdata generations
    * (LONG nanos for the legacy TIMESTAMP(NANOS) file, TIMESTAMP_NTZ
    * for timestamp[us]) — see graft.Tables.events.
    */
  def eventsStreamSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source for one corpus table, robust to BOTH physical
    * layouts a `<table>.parquet` ships in: the driver testdata writes
    * each table as ONE FILE, while every Spark-written corpus
    * (ScaleGen slices, production ingest) is a DIRECTORY of part
    * files under the same name. Neither source form covers both: the
    * `dir + pathGlobFilter` form matches leaf FILE names only, so on
    * a directory table it reads ZERO files silently (every gate row
    * dropped, no error — how the r15 gen-slice stamp caught it), and
    * the direct-path form fails on a file table (`basePath must be a
    * directory`). So the layout is probed once at build time (a
    * file-status call, no data read) and the matching form chosen;
    * StreamingLayoutSpec pins drain parity across layouts.
    */
  private def tableStream(spark: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.getFileStatus(p).isDirectory)
      spark.readStream.schema(schema).parquet(p.toString)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** events as a file stream, with the raw columns plus `ts_t`
    * (TimestampType, µs) normalized from whichever physical `ts`
    * encoding the parquet actually has. The type probe is a
    * footer-only batch schema read, not a data scan.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // a µs file is DECLARED TimestampType so the scan yields TIMESTAMP
    // directly (session tz is UTC, so the micros are unchanged)
    val declared = if (probed == LongType) LongType else TimestampType
    val src = tableStream(spark, dir, "events", eventsStreamSchema(declared))
    declared match {
      // integer DIV, not fp division: ns epochs (~1.7e18) exceed 2^53
      case LongType => src.withColumn("ts_t", timestamp_micros(expr("ts DIV 1000")))
      case _        => src.withColumn("ts_t", col("ts"))
    }
  }

  /** One-shot streaming window aggregation over the events table:
    * readStream → tumbling 1-hour window per event_type → complete-mode
    * memory sink, drained synchronously with AvailableNow. Returns the
    * final result — identical to the batch equivalent, which is what
    * the oracle checks.
    */
  /** SLIDING-window streaming aggregate (2h width, 1h slide): every
    * event lands in exactly two overlapping windows — the standard
    * "smooth dashboard" window shape, with 2x the state of tumbling
    * and the same per-row work. AvailableNow drain == the batch
    * answer, which is what the oracle checks.
    */
  def slidingWindowAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .groupBy(window(col("ts_t"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  def windowAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,4)")).cast("double").as("total"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("total"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** Stateful streaming queries materialize one state-store instance
    * per shuffle partition per batch; their cost is dominated by that
    * fan-out, not row volume. Plans built inside `body` get a partition
    * count sized to the state (as a production job tunes it), not to
    * the CPU count. The conf is restored afterwards — the partition
    * count is captured when the streaming plan is materialized at
    * `start()`.
    */
  private def withStateSizedPartitions[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // r18 (the round's "not yet optimized" item 5, A/B'd): RocksDB
    // state store for every stateful gate — measured faster than the
    // default HDFS-backed store on all five stateful gates in the
    // same window (min-across-JVMs ratios 0.83-0.92: the HDFS store's
    // per-batch snapshot/maintenance work exceeds RocksDB's JNI cost
    // even at bench-scale state), and it is the production choice at
    // 100 TB state (off-heap, incremental snapshots — state no longer
    // competes with execution memory). Scoped HERE because the conf
    // is captured at start(): only the gates' fresh-temp-checkpoint
    // queries flip; the persistent-checkpoint foreachBatch streams
    // (stateless appends — no state store) keep their existing
    // checkpoints untouched, so no provider-vs-checkpoint
    // incompatibility can arise.
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  /** Streaming ingest into a [[TickStore]]: each micro-batch runs the
    * store's last-write-wins upsert (foreachBatch = the streaming
    * analog of the reference's POST ingest loop, `handlers.go:57-77`).
    * Source: a directory of JSON tick records
    * `{"index": ..., "time": ..., "value": {...}}`. Drains available
    * data and returns.
    */
  def ingestStreamOnce(
      spark: SparkSession, jsonDir: String, store: TickStore, db: String): Unit = {
    val schema = StructType(Seq(
      StructField("index", StringType),
      StructField("time", StringType),
      StructField("value", MapType(StringType, DoubleType))))
    val src = spark.readStream.schema(schema).json(jsonDir)
    val q = src.writeStream
      .outputMode("append")
      // checkpoint = exactly-once across restarts: a re-run drains only
      // files not yet committed (the durability story the reference's
      // never-called Flush lacked, SURVEY §4.4)
      .option("checkpointLocation", s"${store.root}/_checkpoints/$db")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val pts = batch
            .withColumn("ts_ns", unix_micros(to_timestamp(col("time"))) * 1000L)
            .select(col("index"), col("ts_ns"), col("value"),
              monotonically_increasing_id().as("seq"))
          store.ingest(batch.sparkSession, db, pts)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMED ingest into the VERSIONED store — the reference's actual
    * ingest mode (A6, `handlers.go:57-77`) under the snapshot model:
    * every micro-batch lands as a [[graft.tick.TickVersioned]] commit,
    * so each batch is a queryable, time-travelable snapshot the moment
    * it drains (the combination the batch-commit and streamed-rollup
    * gates each prove half of). The 'error' series is staged as FOUR
    * parquet files and the file stream takes one per trigger, so the
    * AvailableNow drain produces exactly four versions. A
    * [[graft.Fixtures]] fixture (bench laps time the as-of read, not
    * the build): a crashed build rebuilds from scratch rather than
    * double-commit.
    *
    * Returns (store base, version count after the drain).
    */
  def versionedIngestOnce(spark: SparkSession, dir: String): (String, Int) = {
    import graft.tick.TickVersioned
    def base(root: String) = s"$root/store"
    val root = graft.Fixtures.cached(spark, dir, "vstream", "events") { root =>
      val srcDir = s"$root/incoming"
      graft.Tables.events(spark, dir).where(col("event_type") === "error")
        .select("event_id", "ts_ns", "value")
        .repartition(4) // four files -> four micro-batches
        .write.parquet(srcDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "part-*")
        .parquet(srcDir)
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/_chk")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            // key = error|ts_ns|event_id (unique per event, so the
            // final state is exactly the raw series — no same-µs LWW
            // collapse for the oracle to disagree about)
            TickVersioned.commit(batch.sparkSession, base(root), batch.select(
              lit("error").as("index"),
              col("ts_ns"),
              col("event_id").cast("string").as("field"),
              expr("CAST(round(value * 100) AS BIGINT)").as("vc"),
              col("event_id").as("seq")))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (base(root), TickVersioned.currentVersion(spark, base(root)))
  }

  /** Streamed GDPR-style deletion: v1 commits all clicks into a
    * snapshot store, then a 4-file key stream drains through
    * foreachBatch -> [[graft.sources.SnapshotStore.deleteRowsDv]] —
    * each micro-batch of delete keys becomes one DV version with NO
    * data dir rewritten (the production right-to-be-forgotten shape:
    * deletion requests arrive continuously; each lands as a tiny
    * sidecar commit). Returns (store base, final version).
    */
  def dvDeleteStreamOnce(spark: SparkSession, dir: String): (String, Int) = {
    import graft.sources.SnapshotStore
    def base(root: String) = s"$root/store"
    val root = graft.Fixtures.cached(spark, dir, "dvstream", "events") { root =>
      val clicks = graft.Tables.events(spark, dir)
        .where(col("event_type") === "click")
        .select(col("event_id").cast("string").as("key"),
          date_format(col("ts"), "yyyy-MM-dd").as("part"),
          lit(0L).as("seq"),
          expr("CAST(round(value*100) AS BIGINT)").as("vc"))
      SnapshotStore.commit(spark, base(root), clicks) // v1: the full table
      val srcDir = s"$root/incoming"
      clicks.where(col("key").cast("long") % 5 === 0)
        .select("key", "part")
        .repartition(4) // four files -> four delete micro-batches
        .write.parquet(srcDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "part-*")
        .parquet(srcDir)
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/_chk")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            SnapshotStore.deleteRowsDv(batch.sparkSession, base(root),
              batch.select("key", "part"))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (base(root), SnapshotStore.currentVersion(spark, base(root)))
  }

  /** Watermarked append-mode aggregation (for the unit suite): with a
    * `delay` watermark, only windows older than max(event time) - delay
    * are finalized and emitted — late rows beyond the watermark are
    * dropped, the streaming-correctness behavior the batch path has no
    * analog for.
    */
  def watermarkedCounts(
      spark: SparkSession, dir: String, delay: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .withWatermark("ts_t", delay)
      // group by the window expression itself (not window.start): the
      // watermark is tracked on the TimeWindow, grouping on a projected
      // field severs that link and append mode is rejected
      .groupBy(window(col("ts_t"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Stream-static enrichment join: the unbounded event stream joins a
    * bounded dimension (event-type weights) that BROADCASTS — each
    * micro-batch probes the dim locally, no stream-side state, no
    * shuffle of the stream beyond the final aggregate. This is the
    * canonical "enrich the firehose with reference data" pattern; the
    * static side re-resolves per batch, so a dim refresh lands without
    * restarting the query.
    */
  def streamStaticJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val dim = spark.createDataFrame(Seq(
      ("click", 1L), ("view", 2L), ("purchase", 10L), ("signup", 5L), ("error", 0L)))
      .toDF("event_type", "weight")
    val agg = src.join(broadcast(dim), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("weight").as("score"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name).orderBy("event_type")
  }

  /** Streaming top-k: complete-mode sort+limit OVER the running
    * aggregate (the live leaderboard shape). Sorting is legal in
    * streaming only with complete output mode, and it sorts the
    * aggregate state (|users| rows), never the stream. Deterministic
    * ties: count desc, then user_id.
    */
  def streamTopKOnce(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src.groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(k)
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    // the sink preserved the pre-sink sort in practice, but the
    // verified ordering should be explicit, not a memory-sink artifact
    spark.table(name).orderBy(col("n").desc, col("user_id"))
  }

  /** Streamed model inference: the IRLS quality gate's betas are fit
    * OFFLINE on the batch corpus (training is a batch job), then the
    * documents arrive as a file stream and every micro-batch scores
    * against the broadcast 1-row coefficient frame — the standard
    * train-batch/serve-stream split. The join key is a constant
    * (stream-static equi-join; a literal crossJoin is rejected on
    * streaming plans), so the static side broadcasts once and the
    * scoring itself is row-local — state exists only in the per-source
    * complete-mode aggregate (O(sources) rows). At 100 TB/day this is
    * the shape of a continuous ingest-quality monitor: the stream
    * never shuffles except into the tiny monitor aggregate.
    */
  def qualityGateOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.QualityClassifier
    val betas = QualityClassifier
      .train(QualityClassifier.featsDf(spark, dir), rounds = 4)
      .withColumn("jk", lit(1))
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = tableStream(spark, dir, "documents", docsSchema)
    val scored = QualityClassifier.featsOf(src, extra = Seq("source"))
      .withColumn("jk", lit(1))
      .join(broadcast(betas), "jk")
      .selectExpr("*", QualityClassifier.znSpark)
      .selectExpr("*", QualityClassifier.pSpark)
    val agg = scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("p") >= 500000L, 1L).otherwise(0L)).as("n_pred_keep"),
      sum("p").as("p_micro_sum"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name).orderBy("source")
  }

  /** Streamed DSIR scoring: the 256-bucket importance model is fit
    * OFFLINE (CorpusQueries.dsirModel — the "train the sampler" batch
    * job), then documents arrive as a file stream, every token hashes
    * to its bucket, and the per-bucket log-ratios join in as a
    * stream-static BROADCAST equi-join on the bucket key — unlike the
    * quality gate's 1-row betas frame this is a real keyed join, the
    * shape a bigger model table (n-gram buckets, per-language models)
    * keeps. Per-doc weights close in ONE streaming aggregate
    * (complete-mode, O(docs) state for this drain; an unbounded
    * production stream takes a watermark + update mode so doc state
    * ages out); the per-source monitor is a batch rollup of the sink,
    * the streamDedupOnce two-stage convention.
    */
  def dsirGateOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    val lr = graft.text.CorpusQueries.dsirModel(spark, dir)
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = tableStream(spark, dir, "documents", docsSchema)
    val perDoc = src
      .select(col("doc_id"), col("source"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        graft.text.CorpusQueries.bucketCol.as("bucket"))
      .join(graft.StaticTier.side(lr, tier), "bucket")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"), sum("lr_micro").as("w_micro"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      perDoc.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("w_micro") >= -600000L, 1L).otherwise(0L)).as("n_target_like"),
        sum("w_micro").as("w_micro_sum"))
      .orderBy("source")
  }

  /** Streamed BPE token accounting: the tokenizer is trained OFFLINE
    * (CorpusQueries.bpeSegmentation — the batch trainer), then
    * documents arrive as a file stream, exploded words meet the
    * trained vocab through a stream-static BROADCAST join on the WORD
    * key — a higher-cardinality keyed join than the DSIR gate's
    * 256-bucket model, the shape a real learned-vocab table keeps —
    * and per-doc BPE token counts close in one streaming aggregate.
    * The per-source monitor (docs, whitespace words, BPE tokens) is
    * the number a token-budget/ingest-quota stage watches live; batch
    * rollup of the drained sink per the streamDedupOnce convention.
    */
  def bpeGateOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    val vocabLen = graft.text.CorpusQueries
      .bpeSegmentation(graft.Tables.documents(spark, dir), rounds = 5)
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = tableStream(spark, dir, "documents", docsSchema)
    val perDoc = src
      .select(col("doc_id"), col("source"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("word"))
      .join(graft.StaticTier.side(vocabLen, tier), Seq("word"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_syms"), lit(1L))).as("n_bpe"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      perDoc.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("words_sum"),
        sum("n_bpe").as("bpe_tokens_sum"))
      .orderBy("source")
  }

  /** The DEDUP family's streaming leg (r13 — the last train/serve/
    * stream triangle: DSIR, quality, and BPE gates were the
    * precedents): the corpus's portable LSH band-bucket index is built
    * OFFLINE ([[graft.text.Dedup.portableBandedIndex]] — the "train"
    * step of a dedup pipeline is indexing the corpus), then documents
    * arrive as a file stream, each is banded with the same portable
    * minhash and meets the index through a stream-static BROADCAST
    * equi-join on (band, key), exact hashed-shingle Jaccard verifies
    * CANDIDATES ONLY, and the per-doc drop decision closes in one
    * streaming aggregate. The per-source monitor (docs, dropped,
    * novel-rate ppm) is the number a crawl-ingest stage watches live:
    * a novel-rate collapse means the crawler is re-fetching what the
    * corpus already holds. Batch rollup of the drained sink per the
    * streamDedupOnce convention.
    */
  def dedupGateOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame =
    dedupGatePerDocOnce(spark, dir, tier)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_dup").as("n_dropped"),
        sum("n_cand_rows").as("cand_rows"),
        expr("CAST((COUNT(*) - SUM(is_dup)) * 1000000 DIV COUNT(*) AS BIGINT)")
          .as("novel_ppm"))
      .orderBy("source")

  /** The drained PER-DOC decisions of [[dedupGateOnce]] — exposed so
    * PipelineIntegrationSpec can pin the interlock law (streamed drop
    * set == the batch twin's drop set) at doc granularity, not just
    * through the per-source rollup.
    */
  private[graft] def dedupGatePerDocOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    import graft.text.Dedup
    val hashedIdx = Dedup
      .portableHashedShingles(graft.Tables.documents(spark, dir), col("text"))
      // three consumers (band index + verify side + the broadcast
      // itself); the corpus index of a production gate is prebuilt
      // and reused across micro-batches, so pin it once
      .pinned
    val banded = Dedup.portableBandedIndex(hashedIdx, "doc_id")
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = tableStream(spark, dir, "documents", docsSchema)
    val perDoc = Dedup.portableDedupProbe(src, banded, hashedIdx, tier)
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      perDoc.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** The SIMILARITY family's streaming leg (r13 — with the dedup gate
    * this closes the last train/serve/stream triangle): query vectors
    * arrive as a stream and probe the INCREMENTALLY-maintained IVF
    * index (graft.vec.VecAnalytics.grownIvfIndex — centroids trained
    * on the base corpus, appended batch assigned frozen). Per streamed
    * vector: a MAP-SIDE argmin against the 20 trained centroids
    * (inlined as literal arrays; scores via the codegen'd vec_dot —
    * all quantities are exact integers below 2^53, so the double
    * arithmetic is bit-deterministic and ties break to the lowest
    * list exactly like the oracle's ROW_NUMBER), then a broadcast
    * equi-join onto the probed list's members, exact integer L2 per
    * candidate, and the per-query top-1 closes in ONE streaming
    * aggregate. The per-label monitor (queries, top-1 distance mass)
    * is the drift/regression number a production embedding-service
    * watches; the 1-probe stream tier's top-1 is lower-bounded by the
    * 6-probe batch tier's (superset candidates) — pinned in VecSpec.
    */
  def annGateOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame =
    annGatePerQueryOnce(spark, dir, tier)
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum("top1_d2").as("top1_d2_sum"),
        expr("CAST(SUM(top1_d2) DIV COUNT(*) AS BIGINT)").as("mean_top1_d2"))
      .orderBy("label")

  private[graft] def annGatePerQueryOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    import graft.vec.VecAnalytics
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftExpressions.vec_dot(a, b)
    val quant = transform(col("embedding"), v =>
      round(v.cast("double") * 1048576).cast("long"))
    val cents = VecAnalytics.coarseCentroidArrays(spark, dir)
    val (_, grown) = VecAnalytics.grownIvfIndex(spark, dir)
    // static index side: probed-list members with their quantized
    // vectors and precomputed |c|^2 — built once, broadcast into
    // every micro-batch (candidate work never shuffles the stream)
    val corpus = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), quant.as("carr"))
      .join(grown.withColumnRenamed("vec_id", "id"), "id")
      .withColumn("c2", dot(col("carr"), col("carr")))
      .select("id", "bucket", "carr", "c2")
      .pinned
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val src = tableStream(spark, dir, "embeddings", embSchema)
    // per-row argmin over centroid literals: score = |m|^2 - 2 q·m
    // (the common |q|^2 shift cannot change the argmin or its ties)
    val probed = src
      .select(col("vec_id"), col("label").cast("long").as("label"),
        quant.as("qarr"))
      .withColumn("bucket", array_min(array(cents.map { case (l, m) =>
          val mLit = array(m.toIndexedSeq.map(lit(_)): _*)
          val m2 = m.map(x => x.toDouble * x).sum
          struct((lit(m2) - lit(2.0) * dot(col("qarr"), mLit)).as("d"),
            lit(l).as("l"))
        }: _*)).getField("l"))
    val perQuery = probed.join(graft.StaticTier.side(corpus, tier), Seq("bucket"))
      .where(col("id") =!= col("vec_id"))
      .withColumn("d2",
        (dot(col("qarr"), col("qarr")) + col("c2")
          - lit(2.0) * dot(col("qarr"), col("carr"))).cast("long"))
      .groupBy("vec_id", "label")
      .agg(min(col("d2")).as("top1_d2"), count(lit(1)).as("n_cand"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      perQuery.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** The MULTIMODAL family's streaming leg (r14 — with this, the mm
    * modality has exact dedup, perceptual near-dup, AND the live gate:
    * every family's train/serve/stream triangle is closed): the base
    * corpus's dHash band index is built OFFLINE (decode once — the
    * "train" step of an image-dedup pipeline is fingerprinting the
    * corpus), then images arrive as a stream — the original uploads
    * plus jittered RE-uploads of docs < 40 (real P6 payloads,
    * brightness+noise jitter, id +PlantedIdOffset in the high-bit
    * space — never a small additive constant, which aliases genuine
    * ids once the corpus outgrows it) — each is decoded and
    * dHashed per row through the same [[graft.mm.Multimodal]] seam,
    * band keys meet the index via a stream-static BROADCAST equi-join
    * on (band, key) with `c_id < doc_id` (a doc never pairs with
    * itself or a later upload), the full 56-bit Hamming ≤ 8 verifies
    * on CANDIDATES only against the broadcast band table, and the
    * per-image decision closes in ONE streaming aggregate. Per-source
    * novel-ppm is the live monitor a media-crawl ingest watches.
    *
    * Scale shape: the stream never shuffles before its one aggregate —
    * banding + decode are per-row, both index sides broadcast (4 band
    * values + 4 longs per corpus image ≈ 48 B/image); payloads never
    * leave the executor — only band values move. Past broadcast
    * limits the `tier` knob ([[graft.StaticTier]]) runs the SAME plan
    * as a shuffled stream-static join on (band, key) — tier
    * bit-equality pinned in StaticTierSpec.
    */
  def phashGateOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame =
    phashGatePerDocOnce(spark, dir, tier)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_dup").as("n_dropped"),
        sum("n_cand_rows").as("cand_rows"),
        expr("CAST((COUNT(*) - SUM(is_dup)) * 1000000 DIV COUNT(*) AS BIGINT)")
          .as("novel_ppm"))
      .orderBy("source")

  /** The drained PER-IMAGE decisions of [[phashGateOnce]] — exposed so
    * PipelineIntegrationSpec can pin the interlock law (streamed drop
    * set == the batch twin's) at image granularity.
    */
  private[graft] def phashGatePerDocOnce(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    val bands = phashIndexBands(spark, graft.Tables.documents(spark, dir))
      // two consumers (band-bucket index + Hamming verify side); the
      // corpus fingerprint table of a production gate is prebuilt and
      // reused across micro-batches, so pin it once
      .pinned
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def reader() = tableStream(spark, dir, "documents", docsSchema)
    // the arriving uploads: every original, plus a jittered RE-upload
    // of each doc < 40 (two file sources unioned — the batch twin and
    // the oracle replay the identical augmentation)
    val stream = graft.mm.Multimodal.withPpmMedia(reader())
      .select(col("doc_id"), col("media"))
      .unionByName(graft.mm.Multimodal
        .withJitteredPpmMedia(reader().where(col("doc_id") < 40))
        .select((col("doc_id") + graft.mm.Multimodal.PlantedIdOffset).as("doc_id"), col("media")))
    phashProbe(spark, stream, bands, graft.Tables.documents(spark, dir), tier)
  }

  /** The batch twin of the streaming probe — identical construction
    * over the batch reader, for the stream==batch interlock pin.
    */
  private[graft] def phashGateBatchTwin(spark: SparkSession, dir: String,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val bands = phashIndexBands(spark, docs).pinned
    val batch = graft.mm.Multimodal.withPpmMedia(docs)
      .select(col("doc_id"), col("media"))
      .unionByName(graft.mm.Multimodal
        .withJitteredPpmMedia(docs.where(col("doc_id") < 40))
        .select((col("doc_id") + graft.mm.Multimodal.PlantedIdOffset).as("doc_id"), col("media")))
    phashProbe(spark, batch, bands, docs, tier)
  }

  /** Base-corpus dHash band table (doc_id, b0..b3) — the prebuilt
    * index both gate legs probe.
    */
  private def phashIndexBands(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val media = graft.mm.Multimodal.withPpmMedia(docs)
      .select(col("doc_id"), lit("image").as("kind"),
        col("media.payload").as("payload"), col("media.meta").as("meta"))
      .as[graft.mm.Multimodal.MediaRecord]
    graft.mm.Multimodal
      .extractFeatures(media, graft.mm.Multimodal.PpmDHashDecoder, batchSize = 64)
      .toDF()
      .select(col("doc_id"),
        expr("CAST(features[0] AS BIGINT)").as("b0"),
        expr("CAST(features[1] AS BIGINT)").as("b1"),
        expr("CAST(features[2] AS BIGINT)").as("b2"),
        expr("CAST(features[3] AS BIGINT)").as("b3"))
  }

  /** Shared probe plan of the streaming gate and its batch twin: ONE
    * definition so the two legs cannot drift (the portableBandKeys
    * discipline). decode+dHash per row, source attached by a broadcast
    * static join on the ORIGINAL id, band fan-out, broadcast index
    * join (c_id < doc_id), broadcast Hamming verify, one per-image
    * aggregate.
    */
  private def phashProbe(spark: SparkSession, mediaDocs: DataFrame,
      bands: DataFrame, staticDocs: DataFrame,
      tier: graft.StaticTier = graft.StaticTier.Broadcast): DataFrame = {
    import spark.implicits._
    val media = mediaDocs
      .select(col("doc_id"), lit("image").as("kind"),
        col("media.payload").as("payload"), col("media.meta").as("meta"))
      .as[graft.mm.Multimodal.MediaRecord]
    val sb = graft.mm.Multimodal
      .extractFeatures(media, graft.mm.Multimodal.PpmDHashDecoder, batchSize = 64)
      .toDF()
      .select(col("doc_id"),
        expr("CAST(features[0] AS BIGINT)").as("s0"),
        expr("CAST(features[1] AS BIGINT)").as("s1"),
        expr("CAST(features[2] AS BIGINT)").as("s2"),
        expr("CAST(features[3] AS BIGINT)").as("s3"))
      // source rides a broadcast static join on the original id
      // (re-uploads inherit their original's source; high-bit planted
      // ids recover the original by SUBTRACTION, never a modulus)
      .join(graft.StaticTier.side(staticDocs
          .select(col("doc_id").as("orig"), col("source")), tier),
        col("orig") === when(
          col("doc_id") >= graft.mm.Multimodal.PlantedIdOffset,
          col("doc_id") - graft.mm.Multimodal.PlantedIdOffset).otherwise(col("doc_id")))
    val bandIdx = bands.select(col("doc_id").as("c_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "key")))
      .toDF("c_id", "i_band", "i_key")
    val csh = bands.select(col("doc_id").as("c_id"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    sb.select(col("doc_id"), col("source"),
        col("s0"), col("s1"), col("s2"), col("s3"),
        posexplode(array(col("s0"), col("s1"), col("s2"), col("s3")))
          .as(Seq("band", "key")))
      .join(graft.StaticTier.side(bandIdx, tier),
        col("band") === col("i_band") && col("key") === col("i_key") &&
          col("c_id") < col("doc_id"), "left")
      .join(graft.StaticTier.side(csh, tier), Seq("c_id"), "left")
      .withColumn("hamming", when(col("c_id").isNotNull,
        bit_count(col("s0").bitwiseXOR(col("c0"))) +
        bit_count(col("s1").bitwiseXOR(col("c1"))) +
        bit_count(col("s2").bitwiseXOR(col("c2"))) +
        bit_count(col("s3").bitwiseXOR(col("c3")))))
      .groupBy("doc_id", "source")
      .agg(
        sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_cand_rows"),
        max(when(col("c_id").isNotNull && col("hamming") <= 8, 1L)
          .otherwise(0L)).as("is_dup")) match {
      case agg if mediaDocs.isStreaming =>
        val name = s"graft_stream_${nameCounter.incrementAndGet()}"
        val q = withStateSizedPartitions(spark) {
          agg.writeStream
            .outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        spark.table(name)
      case agg => agg
    }
  }

  /** Streaming deduplication: emit each (user_id, event_type) key once,
    * drained with AvailableNow, then count survivors per type in batch.
    * `dropDuplicates` keys state exactly like the batch distinct the
    * oracle runs; on an unbounded production stream the same plan takes
    * `withWatermark` + `dropDuplicatesWithinWatermark` so the key state
    * ages out instead of growing forever.
    */
  def streamDedupOnce(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val dd = src.select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      dd.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type")
  }

  /** Bounded-state streaming deduplication:
    * `dropDuplicatesWithinWatermark` — the production form of
    * [[streamDedupOnce]]'s dropDuplicates. Key state is dropped once
    * the watermark passes the key's first-seen event time plus the
    * delay, so state is O(keys-per-delay-window), not O(all keys ever)
    * — the only dedup that survives an unbounded stream. The delay
    * here exceeds the testdata span, so nothing ages out mid-drain and
    * the result equals the batch distinct the oracle runs; a
    * production stream uses a real delay and accepts that a duplicate
    * arriving later than the delay re-emits.
    */
  def streamDedupWatermarkOnce(spark: SparkSession, dir: String): DataFrame = {
    val dd = eventsStream(spark, dir)
      .withWatermark("ts_t", "365 days")
      .select(col("user_id"), col("event_type"), col("ts_t"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      dd.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type")
  }

  /** One-shot streaming SESSION-window aggregation: per-user sessions
    * that close after 30 minutes of silence, via the native
    * `session_window` grouping (dynamic-length windows merged in the
    * state store — the streaming twin of Sessionize's batch islands).
    * Complete mode re-emits the merged sessions at the final
    * AvailableNow batch (update mode is rejected for session windows);
    * the watermark bounds session state in a production stream (set
    * beyond the testdata span so nothing is late-dropped and the drain
    * equals the batch oracle).
    */
  def sessionWindowAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
      .withWatermark("ts_t", "365 days")
    val agg = src
      .groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
  }

  /** Stream-stream interval join: clicks joined to the same user's
    * purchases within the following 10 minutes. Both sides carry a
    * watermark — that is what lets the join RUNTIME bound its state
    * (click state can be dropped once the watermark passes click-time +
    * 10 min). The delay here is set beyond the testdata's time span so
    * nothing is late-dropped and the drained result equals the batch
    * interval join the oracle runs; a production stream would use a
    * real delay and accept the late-data semantics.
    */
  /** Stream-stream LEFT OUTER interval join — the semantics inner
    * joins can't show: a click with NO purchase in its 10-minute
    * window emits a null-padded row, but only once the watermark has
    * moved past the click's entire join window (before that the match
    * might still arrive, so the row sits in state). The 1-hour
    * watermark delay is therefore part of the SEMANTICS: unmatched
    * clicks inside the final watermark+window tail are still pending
    * at drain and must NOT appear — the oracle reproduces exactly
    * that boundary (min of both sides' ms-floored max event time,
    * minus the delay). Returns per-user counts of matched pairs and
    * emitted null rows.
    */
  def streamLeftOuterJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, prefix: String) = eventsStream(spark, dir)
      .where(col("event_type") === tpe && col("user_id") < 500)
      .select(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        col("ts_t").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("click", "c").join(
      side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
      "leftOuter")
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy(col("c_user").as("user_id"))
      .agg(sum(when(col("p_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_null"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT SEMI interval join: each click emits AT MOST
    * ONCE — as soon as any purchase lands in its window — never
    * null-pads, and never duplicates however many purchases match
    * (the dedup the inner join can't give without a downstream
    * distinct over re-keyed state). Same watermark bounds the state.
    */
  def streamSemiJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, prefix: String) = eventsStream(spark, dir)
      .where(col("event_type") === tpe && col("user_id") < 500)
      .select(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        col("ts_t").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("click", "c").join(
      side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
      "leftSemi")
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_converted_clicks"))
      .orderBy("user_id")
  }

  def streamIntervalJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, prefix: String) = eventsStream(spark, dir)
      // user subset: bounds join state while proving the same semantics
      .where(col("event_type") === tpe && col("user_id") < 500)
      .select(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        col("ts_t").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "365 days")
    val joined = side("click", "c").join(
      side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withStateSizedPartitions(spark) {
      joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(name)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }
}
