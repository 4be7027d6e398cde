package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver harness: every oracle key has a query
  * and every query an oracle, each query's answer at sf0.001 equals its
  * pinned digest, and the flagship entry keeps its pinned triples.
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

  // TestSpark.digest of every registry answer at sf0.001, as read at
  // 029f93b, where Verify plus tools/crosscheck.py read 90 ok: a pin is
  // a crosscheck-passing answer. The row count in each pin also fixes
  // which answers are non-empty. q49's pin fixes its approximate
  // neighbour selection, which its oracle does not check.
  val pinned = Map(
    "q01_scan_project" -> "1968:638ce16e1ff0dcec",
    "q02_filter_empty_pred" -> "188:0bd8fb83be00c0e3",
    "q03_filter_target_set" -> "187:4c0c8187d2fa30b4",
    "q04_distinct_nonempty_pred" -> "5:261895cdceeb2622",
    "q05_semijoin_known" -> "942:ae2cfed1b396ee8e",
    "q06_antijoin_reconcile" -> "750:7051caf17fb9d1c5",
    "q07_node_lookup_join" -> "150:2bafa92320fb7338",
    "q08_membership_count" -> "1:4e51d26d4e24cdb5",
    "q09_negcheck_antijoin" -> "820:c619ada94cdb092d",
    "q10_dict_encode" -> "115:a64d45a41b67b684",
    "q11_salted_join_equiv" -> "942:a3c9cbfa27b4bfe4",
    "q12_pred_counts" -> "5:e9245758e1fe1dcd",
    "q13_degree" -> "115:9b0695b6ecad5abf",
    "q14_group_stats" -> "3:742bcbba599c6b77",
    "q15_auc" -> "1:6249e77745f693cf",
    "q16_uncertainty_topk" -> "10:4803c75d2798e8eb",
    "q17_low_conf_topk" -> "10:d9bbf32afca313fc",
    "q18_subject_cap" -> "45:3506cc2cb61323bf",
    "q19_removal_quota" -> "942:650f78f88ad5bfdc",
    "q20_rank_corruptions" -> "942:6643667d0af2549c",
    "q21_mrr_hits" -> "1:d54c38e0a332f9c1",
    "q22_sort_limit_prefix" -> "100:c8705f07fc54ace5",
    "q23_set_intersect" -> "19:bae276c98a5d971c",
    "q24_split_assign" -> "3:b4d9b41d33461318",
    "q25_undirected" -> "350:7c143975c71c0c11",
    "q26_khop" -> "10:ad7eb17b6b047de2",
    "q27_connected_components" -> "180:196e0ab75791bad8",
    "q28_induced_subgraph" -> "25:ce3ad07cbed8f2df",
    "q29_edge_ids" -> "942:0f9961a9b8063fe6",
    "q30_ntriples_format" -> "942:fc37356ed6f6a658",
    "q31_regex_extract_props" -> "1000:7ef1813cc407e7c0",
    "q32_scrub_filter" -> "500:054ad4b8db92c315",
    "q33_prune_threshold" -> "377:2972e822009d8672",
    "q34_review_records" -> "25:855253f4cd35917a",
    "q35_token_stats" -> "500:ccfadf3a2c9056fb",
    "q36_quality_score" -> "500:0e8c93b4f71400d3",
    "q37_langid" -> "500:62f15b25367c2276",
    "q38_fingerprint" -> "500:ac9521061542320a",
    "q39_dedup_exact" -> "500:76351432afed3334",
    "q40_minhash_lsh" -> "238:2a2c03dd6dedb123",
    "q41_ngram_jaccard" -> "57:1b4fe5de3a0b7db4",
    "q42_cosine_topk" -> "60:e31c07d0a556749f",
    "q43_embedding_neardup" -> "96:87de4fbe47657d6d",
    "q44_tumbling_window" -> "868:9322a16145d35fb3",
    "q45_sessionize" -> "15:13912517a5f27582",
    "q46_tpch1" -> "6:6a2853ebbe8a0f54",
    "q47_revenue_by_nation" -> "25:88ea11864aba81be",
    "q48_simhash_neardup" -> "4846:2e5a21b84d483f2d",
    "q49_ann_lsh_topk" -> "60:57cc9101dedcbaa8",
    "q50_blend" -> "942:393298a310e582f3",
    "q51_softmax_rel" -> "5:f9e68d58a185a84b",
    "q52_stratified_sample" -> "107:42eadd4477b69367",
    "q53_chunk_text" -> "658:d987c80afada4d37",
    "q54_transe_score" -> "99:2f05c59bc2c6e319",
    "q55_auc_pr" -> "1:4ad19792264cf4ef",
    "q56_score_quantiles" -> "5:f68f38b7315a2a8a",
    "q57_ranking_protocol_5050" -> "1:b6f60e88aa5d597d",
    "q58_new_entity_triage" -> "942:295a2eef54f315bd",
    "q59_priority_fill" -> "30:3af4476bbc10bba2",
    "q60_regex_extract_all" -> "1000:3219849b394ce877",
    "q61_community_f1" -> "5:84142ff1664a5cb0",
    "q62_eccentricity" -> "5:9239183fd188ef04",
    "q63_target_component" -> "40:24c60877ade6eea7",
    "q64_row_chunk" -> "500:7440f709088cfb25",
    "q65_community_subgraph" -> "3:9f6caefed80e5def",
    "q66_distmult_score" -> "98:54966472a2e37806",
    "q67_complex_score" -> "98:e8152ace9338fdaa",
    "q68_rotate_score" -> "98:ae1410c8c0b8f7fd",
    "q69_ann_ivf_topk" -> "60:cb32d66a70c0e778",
    "q70_pii_redact" -> "500:8e6c5c062bd999c0",
    "q71_repetition_ratio" -> "500:79ad7cf5e1c2d55f",
    "q72_protate_score" -> "98:2270562c0b9b49a2",
    "q73_url_normalize" -> "500:daa79a6f120f4405",
    "q74_bpe_pretokenize" -> "500:c0480a3e65aa6898",
    "q75_cdc_rolling_hash" -> "500:592497e2a10c2d3a",
    "q76_gap_sessions" -> "492:c754fe2042fac3b8",
    "q77_cdc_chunk_dedup" -> "300:7f7dd5b079cc9dd3",
    "q78_multimodal_ann" -> "30:acfa7ca8bb01c7c4",
    "q79_tfidf_top_terms" -> "2500:1243a594b199f515",
    "q80_bm25_search" -> "10:fabfe0b6d2263fa0",
    "q81_dedup_clusters" -> "500:bdbbfcf514dd8162",
    "q82_quality_filter" -> "500:7bee95cf01861a02",
    "q83_image_decode" -> "500:ebf59dfc93478052",
    "q84_audio_decode" -> "500:daab32a6b4383c78",
    "q85_video_frames" -> "2000:41517862a8e57036",
    "q86_blend_fit" -> "942:a4a80fa0fec0e8a6",
    "q87_subgraph_modes" -> "66:7fd75cde32943101",
    "q88_dup_aware_neardup" -> "4846:e102ec7527e0f042",
    "q89_dedup_ann_topk" -> "60:34fb5d336859b5d2",
    "q90_decontaminate" -> "494:cef13710bdc43670")

  // each query runs once: the full result is written, so every output
  // column is computed, then read back (Tables.parquet: no schema job)
  // and digested
  private def checkPins(): Unit = {
    val got = TestSpark.withTempDir("graft-pinned") { dir =>
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
        fn(spark, sf).write.parquet(s"$dir/$q")
        q -> TestSpark.digest(graft.core.Tables.parquet(spark, s"$dir/$q"))
      }
    }
    // one paste-ready line per answer that moved or has no pin, then
    // the pins whose query is gone
    val moved = got.collect {
      case (q, d) if !pinned.get(q).contains(d) =>
        s"""  "$q" -> "$d",  // was ${pinned.getOrElse(q, "not pinned")}"""
    }
    val extra = (pinned.keySet -- got.map(_._1)).toSeq.sorted
      .map(q => s"  pinned, but not a registered query: $q")
    if (moved.nonEmpty || extra.nonEmpty)
      fail((moved ++ extra).mkString("answers differ from their pins:\n", "\n", ""))
  }

  // the distinct kept triples of the pipeline at Fixtures.tiny,
  // recorded at 029f93b
  private def checkFlagship(): Unit =
    assert(TestSpark.digest(SparkEntry.entry(spark)) == "160:480dac30d85df2eb")

  test("every registered query executes at sf0.001") { checkPins() }

  test("flagship entry returns rows") { checkFlagship() }

  // no shipped input reaches a size switch's distributed path, so the
  // same pins run again with every switch forced onto it
  test("every registered query executes at sf0.001 with driverRows = 0") {
    TestSpark.withDriverRows(0)(checkPins())
  }

  test("flagship entry returns rows with driverRows = 0") {
    TestSpark.withDriverRows(0)(checkFlagship())
  }
}
