package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver harness: every query runs, every
  * oracle key has a query, the flagship entry returns rows. Result
  * parity vs DuckDB is checked by tools/crosscheck.py (driver-side).
  */
class DriverContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries keys") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
  }

  test("EVERY query has an oracle (zero rows-only correctness rows)") {
    // r5 closed the last no_oracle row (q78: pair semi-oracle over the
    // emitted feature vectors); a new query landing without an oracle
    // should fail here, not silently weaken the correctness gate
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(qs.subsetOf(os), s"oracle-less queries: ${qs.diff(os)}")
  }

  test("every registered query executes at sf0.001") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // a count lets Catalyst prune every output column it does not
      // need; the noop sink evaluates every output expression
      df.write.format("noop").mode("overwrite").save()
    }
  }

  test("pinned answers at sf0.001") {
    // q78/q83-q85 digests recorded before the multimodal layer was
    // folded onto one decode operator, the time-window family (q44,
    // q45, q76) before q76's sessionizer moved into the registry, the
    // LSH banding family (q40, q48, q49, q81, q88) before its four band
    // joins became one operator; the DuckDB crosscheck passed each of
    // them there. q49's digest also pins its approximate neighbour
    // selection, which its oracle does not check. Each full result is
    // written, so every output column is computed
    val expected = Map(
      "q40_minhash_lsh" -> "238:2a2c03dd6dedb123",
      "q44_tumbling_window" -> "868:9322a16145d35fb3",
      "q45_sessionize" -> "15:13912517a5f27582",
      "q48_simhash_neardup" -> "4846:2e5a21b84d483f2d",
      "q49_ann_lsh_topk" -> "60:57cc9101dedcbaa8",
      "q76_gap_sessions" -> "492:c754fe2042fac3b8",
      "q78_multimodal_ann" -> "30:acfa7ca8bb01c7c4",
      "q81_dedup_clusters" -> "500:bdbbfcf514dd8162",
      "q83_image_decode" -> "500:ebf59dfc93478052",
      "q84_audio_decode" -> "500:daab32a6b4383c78",
      "q85_video_frames" -> "2000:41517862a8e57036",
      "q88_dup_aware_neardup" -> "4846:e102ec7527e0f042")
    val dir = java.nio.file.Files.createTempDirectory("graft-pinned").toString
    val got = expected.keys.map { q =>
      SparkEntry.queries(q)(spark, sf).write.parquet(s"$dir/$q")
      q -> TestSpark.digest(spark.read.parquet(s"$dir/$q"))
    }.toMap
    assert(got == expected)
  }

  test("queries that must be non-empty at sf0.001 are non-empty") {
    val mustBeNonEmpty = Seq(
      "q01_scan_project", "q06_antijoin_reconcile", "q10_dict_encode",
      "q16_uncertainty_topk", "q27_connected_components", "q33_prune_threshold",
      "q40_minhash_lsh", "q42_cosine_topk", "q46_tpch1",
      "q55_auc_pr", "q56_score_quantiles", "q57_ranking_protocol_5050",
      "q58_new_entity_triage", "q59_priority_fill", "q60_regex_extract_all",
      "q61_community_f1", "q62_eccentricity", "q48_simhash_neardup",
      "q63_target_component", "q64_row_chunk", "q65_community_subgraph",
      "q69_ann_ivf_topk", "q70_pii_redact", "q71_repetition_ratio",
      "q72_protate_score", "q73_url_normalize", "q74_bpe_pretokenize",
      "q75_cdc_rolling_hash", "q81_dedup_clusters", "q82_quality_filter")
    mustBeNonEmpty.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
