package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators.
  *
  * The reference is batch-only (SURVEY.md §2.11) — its HITL "loop" is
  * re-running batch jobs — so these are the engine's forward-looking
  * stream path: the same windowed aggregates and sessionization a
  * continuously-crawled page/event feed needs, with watermarks bounding
  * state. Tested against a file source + memory sink (StreamingSpec).
  */
object StreamOps {

  /** Tumbling-window counts/sums per event_type with a watermark. */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionUpdate(user_id: Long, n_events: Long, total: Double)

  /** Stateful per-user running aggregates via mapGroupsWithState. */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), SessionUpdate](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { e => n += 1; v += e.value }
          state.update((n, v))
          SessionUpdate(uid, n, v)
      }
  }

  final case class Keyed(fp: Long, url: String)

  /** Generic first-seen keeper: one output row per fingerprint, the
    * min-tiebreak row of the first micro-batch that carries it — the
    * single implementation behind [[dedupStream]] and
    * [[incrementalLinked]] so the keeper semantics cannot diverge.
    */
  private def firstSeen[T](ds: Dataset[T], fp: T => Long,
      tiebreak: T => String)(implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    ds.groupByKey(fp)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[Boolean, T](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[T], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // deterministic within the arriving micro-batch group
            Iterator.single(rows.minBy(tiebreak))
          }
      }(org.apache.spark.sql.Encoders.scalaBoolean, enc)

  /** Streaming exact dedup: keep the FIRST document seen per content
    * fingerprint, drop every later arrival — the continuous-ingestion
    * counterpart of `PageDedup.droppedUrls(pages, "exact")`, with two
    * differences:
    *  - keeper: a stream cannot know the batch min(url), so first-seen
    *    wins (within one micro-batch the smallest url, for determinism);
    *  - key: xxhash64 of the raw text, where the batch mode keys on md5
    *    of the whitespace-normalized lowercased text.
    *
    * flatMapGroupsWithState keyed on that fingerprint: state is one
    * boolean per seen fingerprint, emitted rows are the (fp, url)
    * keepers. State grows with distinct content — at 100 TB the state
    * store backs onto RocksDB and the key is 8 bytes, the same
    * hashed-long discipline as the pipeline's url-hash anti-join.
    */
  def dedupStream(docs: DataFrame): Dataset[Keyed] = {
    import docs.sparkSession.implicits._
    firstSeen(
      docs.select(xxhash64(col("text")).as("fp"), col("url")).as[Keyed],
      (k: Keyed) => k.fp, (k: Keyed) => k.url)
  }

  final case class PageKeep(fp: Long, url: String, text: String, lang: String)

  /** Incremental KG front half: continuously-crawled pages -> stateful
    * exact dedup (first-seen keeper per content fingerprint, as
    * [[dedupStream]] but carrying the full page row) -> stateless triple
    * extraction -> entity linking against the STATIC broadcast alias
    * dictionary (stream-static inner joins are append-safe; the argmax
    * is per-row HOF logic, no streaming aggregation anywhere). The
    * downstream global stages (CC canonicalization, degree-window
    * pruning) stay batch over the accumulated table — the reference's
    * HITL loop re-runs those periodically anyway.
    *
    * Returns the linked-assertion stream: same schema as the batch
    * `EntityLink.link` output, provably equal to the batch run over the
    * union of all micro-batches after dedup (StreamingSpec).
    */
  def incrementalLinked(
      pagesStream: DataFrame,
      aliasDict: DataFrame,
      entityKeywords: DataFrame): DataFrame = {
    import pagesStream.sparkSession.implicits._
    val kept = firstSeen(
      pagesStream
        .select(xxhash64(col("text")).as("fp"), col("url"), col("text"), col("lang"))
        .as[PageKeep],
      (p: PageKeep) => p.fp, (p: PageKeep) => p.url)
      .toDF().drop("fp")
    // build + materialize the alias dictionary ONCE: the static side of
    // a stream-static join is re-executed every trigger, so without
    // this each micro-batch re-runs the dict join/aggregation
    val dict = graft.link.EntityLink.dictByAlias(aliasDict, entityKeywords)
      .localCheckpoint(true)
    graft.link.EntityLink.linkWithDict(
      graft.extract.TripleExtract.assertions(kept), dict)
  }
}
