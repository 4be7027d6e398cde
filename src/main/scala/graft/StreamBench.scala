package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.{Session, TableFormat}
import graft.fixtures.Fixtures
import graft.pipeline.KgPipeline
import graft.streaming.StreamOps

/** Streaming KG front-half benchmark: replay the bench fixture's pages
  * as file-source micro-batches through
  * [[StreamOps.incrementalLinked]] (stateful exact dedup -> extract ->
  * stream-static link) and measure per-trigger throughput + state size.
  * Prints ONE JSON line and appends it to BENCH/stream_bench.jsonl
  * under the working directory.
  *
  * Env knobs: SPARK_GRAFT_CPUS (default: every core),
  * SPARK_GRAFT_KG_SCALE (tiny|small|bench, default small),
  * SPARK_GRAFT_TRIGGER_FILES (files per trigger, default 4),
  * SPARK_GRAFT_STATE_PROVIDER (hdfs|rocksdb, default hdfs) — rocksdb
  * selects the RocksDB state store (state spills off-heap/to disk;
  * the provider the 100x-state dedup/sessionization claim assumes,
  * now benchable instead of asserted),
  * SPARK_GRAFT_STREAM_SURFACE (kg|sessions, default kg) — sessions
  * benches [[graft.streaming.Sessions.gapSessionsState]] on a
  * deterministic 2M-event feed instead of the KG front half.
  */
object StreamBench {

  /** Prints `json` and appends it to BENCH/stream_bench.jsonl under the
    * working directory; a failed append is reported, not fatal.
    */
  private def record(json: String): Unit = {
    println(json)
    try {
      val p = java.nio.file.Paths.get("BENCH", "stream_bench.jsonl")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[stream-bench] record append failed: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val kgScale = sys.env.getOrElse("SPARK_GRAFT_KG_SCALE", "small")
    val filesPerTrigger = sys.env.getOrElse("SPARK_GRAFT_TRIGGER_FILES", "4").toInt
    val stateProvider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
    val providerClass = stateProvider match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => sys.error(
        s"SPARK_GRAFT_STATE_PROVIDER '$other': expected hdfs or rocksdb")
    }
    // knob sweep hook (provider-attribution A/Bs): semicolon-separated
    // key=value Spark confs, e.g. SPARK_GRAFT_STATE_CONF=
    // "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true;
    //  spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB=64".
    // Recorded verbatim in the emitted JSON so every jsonl row names
    // the exact configuration it measured.
    val stateConf = sys.env.getOrElse("SPARK_GRAFT_STATE_CONF", "")
    val stateConfPairs = stateConf.split(';').iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_STATE_CONF entry '$kv': expected key=value")
        (kv.substring(0, i).trim, kv.substring(i + 1).trim)
      }.toSeq
    val nFiles = 16
    val builder0 = Session.builder("graft-stream-bench")
      .config("spark.sql.streaming.stateStore.providerClass", providerClass)
    val spark = stateConfPairs
      .foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val surface = sys.env.getOrElse("SPARK_GRAFT_STREAM_SURFACE", "kg")
    if (surface == "sessions") {
      benchSessions(spark, cpus, stateProvider, filesPerTrigger, stateConf)
      spark.stop()
      return
    }
    require(surface == "kg",
      s"SPARK_GRAFT_STREAM_SURFACE '$surface': expected kg or sessions")
    val cfg = kgScale match {
      case "tiny" => Fixtures.tiny
      case "bench" => Fixtures.bench
      case _ => Fixtures.small
    }
    // stage the fixture pages as nFiles parquet files (untimed): the
    // stream replays them filesPerTrigger at a time = real micro-batches
    val inDir = s"/tmp/graft-streambench-$kgScale"
    val gen = KgPipeline.fixtureInputs(spark, cfg)
    val pages = gen.pages.select("url", "text", "lang")
    // restage when missing OR when the staged row count disagrees with
    // the current fixture config — a _SUCCESS-only guard silently
    // replays stale pages after a fixture change
    val staged = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$inDir/pages/_SUCCESS")) &&
      spark.read.parquet(s"$inDir/pages").count() == cfg.nPages
    if (!staged) {
      pages.repartition(nFiles)
        .write.mode("overwrite").parquet(s"$inDir/pages")
    }
    val nPages = spark.read.parquet(s"$inDir/pages").count()

    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-streambench-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-streambench-out").toString
    val stream = spark.readStream
      .schema(pages.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(s"$inDir/pages")
    val linked = StreamOps.incrementalLinked(
      stream, gen.aliasDict, gen.entityKeywords)

    val t0 = System.nanoTime()
    val q = linked.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", outDir)
      .start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    q.stop()
    val linkedRows = spark.read.parquet(outDir).count()

    // per-trigger stats from the engine's own progress records
    val triggers = progress.filter(_.numInputRows > 0)
    val perTrigger = triggers.map { p =>
      val stateRows = p.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(0L)
      s"""{"input_rows":${p.numInputRows},"batch_ms":${p.durationMs.get("triggerExecution")},""" +
        s""""state_rows":$stateRows}"""
    }.mkString("[", ",", "]")
    val stateRowsFinal = triggers.lastOption
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(0L)
    val stateBytesFinal = triggers.lastOption
      .flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes).getOrElse(0L)
    val json =
      s"""{"metric":"stream_kg","scale":"$kgScale","cpus":$cpus,""" +
        s""""state_provider":"$stateProvider","state_conf":"${TableFormat.jsonEscape(stateConf)}",""" +
        s""""pages":$nPages,"linked_rows":$linkedRows,"wall_sec":$wall,""" +
        s""""pages_per_sec":${nPages / wall},"n_triggers":${triggers.size},""" +
        s""""files_per_trigger":$filesPerTrigger,"state_rows":$stateRowsFinal,""" +
        s""""state_bytes":$stateBytesFinal,""" +
        s""""stub_fallback_rows":${graft.multimodal.Multimodal
          .stubFallbackCounter(spark.sparkContext).value},""" +
        s""""triggers":$perTrigger}"""
    record(json)
    spark.stop()
  }

  /** Sessionization surface (SPARK_GRAFT_STREAM_SURFACE=sessions): a
    * deterministic 2M-event feed (50k users; each user's events 20 s
    * apart with a 60 s jump every 4th event, so 4-event sessions close
    * continuously against a 30 s gap) replayed as 16 time-ordered
    * parquet micro-batch files through the pending-session-list
    * [[graft.streaming.Sessions.gapSessionsState]] with a 10 s
    * watermark, plus a 17th single-row flush-sentinel file whose ts sits
    * beyond maxTs + gap + watermark — without it each user's FINAL
    * session can never finalize (the watermark never passes last+gap)
    * and sessions_out under-reports by one session per user (450k of
    * 500k), with the tail resident in state at shutdown. With it,
    * sessions_out = users x sessionsPerUser exactly; only the sentinel's
    * own 1-event session stays pending. Measures events/s and
    * per-trigger state (rows should hold steady at ~active users — the
    * bound the event-time timeout exists to enforce — not grow with
    * ever-seen users).
    */
  private def benchSessions(spark: SparkSession, cpus: Int,
      stateProvider: String, filesPerTrigger: Int,
      stateConf: String = ""): Unit = {
    import spark.implicits._
    val nEvents = 2000000L
    val users = 50000L
    val nFiles = 16
    val gapMs = 30000L
    val inDir = "/tmp/graft-streambench-sessions"
    val ev = spark.range(nEvents).select(
      col("id").as("event_id"),
      // integer DIV, not `/` (Column./ is double division — a
      // fractional seq turns the every-4th-event 60 s session jump
      // into a continuous 15 s/event drift that splits every event)
      (lit(1700000000L) + expr(s"(id DIV $users) * 20") +
        expr(s"((id DIV $users) DIV 4) * 60")).cast("timestamp").as("ts"),
      pmod(col("id"), lit(users)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("buy")),
        (pmod(xxhash64(col("id")), lit(3L)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(col("id"), lit(7L)), lit(1000L)).cast("double") / 100.0)
        .as("value"))
    // flush sentinel: one event past maxTs + gap + watermark, staged as
    // the LAST micro-batch file. maxTs = 1700000000 + 39*20 + 9*60; the
    // sentinel sits a full minute beyond the last admissible watermark
    // position so every user's final session finalizes (StreamingSpec's
    // stagedSessionFeed discipline).
    val sentinelTs = 1700000000L + 39 * 20 + 9 * 60 + gapMs / 1000 + 10 + 60
    val sentinel = spark.range(1).select(
      lit(nEvents).as("event_id"),
      lit(sentinelTs).cast("timestamp").as("ts"),
      lit(0L).as("user_id"),
      lit("click").as("event_type"),
      lit(0.0).as("value"))
    // staleness guard: the row count is invariant to the ts/value
    // formulas, so a count-only check would replay a stale feed after
    // any generator fix — the marker pins the generator version +
    // parameters and must match exactly
    val genParams =
      s"v3 n=$nEvents users=$users files=$nFiles step=20 jump=60 perSession=4 sentinel=$sentinelTs"
    val markerPath = java.nio.file.Paths.get(s"$inDir/_params")
    val staged = java.nio.file.Files.exists(markerPath) &&
      new String(java.nio.file.Files.readAllBytes(markerPath),
        "UTF-8") == genParams &&
      // a matching marker over a parquet-less dir (batch files cleaned,
      // marker left behind) must restage, not crash the schema inference
      scala.util.Try(spark.read.parquet(inDir).count() == nEvents + 1)
        .getOrElse(false)
    if (!staged) {
      scala.reflect.io.Directory(new java.io.File(inDir)).deleteRecursively()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      val per = nEvents / nFiles
      // one file per contiguous id range, written in order: the file
      // source lists by mtime, so replay order == event-time order
      def stageOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-sess-stage")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val s = java.nio.file.Files.list(tmp)
          try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          finally s.close()
        }
        java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$inDir/$name"))
      }
      (0 until nFiles).foreach { i =>
        stageOne(ev.filter(
          col("event_id") >= i * per && col("event_id") < (i + 1) * per),
          f"b$i%03d.parquet")
      }
      stageOne(sentinel, f"b$nFiles%03d.parquet")
      // marker last: a partially-staged dir never passes the guard
      java.nio.file.Files.write(markerPath, genParams.getBytes("UTF-8"))
    }
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-sessbench-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-sessbench-out").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inDir)
      .withWatermark("ts", "10 seconds")
      .as[StreamOps.Event]
    val t0 = System.nanoTime()
    val q = graft.streaming.Sessions.gapSessionsState(stream, gapMs)
      .writeStream.outputMode(
        org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", outDir)
      .start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    q.stop()
    val sessionsOut = spark.read.parquet(outDir).count()
    val triggers = progress.filter(_.numInputRows > 0)
    val perTrigger = triggers.map { p =>
      val so = p.stateOperators.headOption
      s"""{"input_rows":${p.numInputRows},"batch_ms":${p.durationMs.get("triggerExecution")},""" +
        s""""state_rows":${so.map(_.numRowsTotal).getOrElse(0L)}}"""
    }.mkString("[", ",", "]")
    val lastState = triggers.lastOption.flatMap(_.stateOperators.headOption)
    val json =
      s"""{"metric":"stream_sessions","cpus":$cpus,""" +
        s""""state_provider":"$stateProvider","state_conf":"${TableFormat.jsonEscape(stateConf)}",""" +
        s""""events":$nEvents,""" +
        s""""users":$users,"sessions_out":$sessionsOut,"wall_sec":$wall,""" +
        s""""events_per_sec":${nEvents / wall},"n_triggers":${triggers.size},""" +
        s""""files_per_trigger":$filesPerTrigger,""" +
        s""""state_rows":${lastState.map(_.numRowsTotal).getOrElse(0L)},""" +
        s""""state_bytes":${lastState.map(_.memoryUsedBytes).getOrElse(0L)},""" +
        s""""triggers":$perTrigger}"""
    record(json)
  }
}
