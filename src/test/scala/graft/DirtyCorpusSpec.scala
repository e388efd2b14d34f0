package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dirty-data robustness: at 100 TB the documents table WILL contain
  * null, empty, whitespace-only, and degenerate texts. Every
  * document-family operator must plan and execute over such a corpus
  * without throwing (Spark 4 runs ANSI mode — silent acceptance is not
  * guaranteed) and must not emit rows for un-scoreable texts where the
  * semantics exclude them.
  */
class DirtyCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    val d = Files.createTempDirectory(base, "dirty").toString
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "srcA"),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "srcB"), // exact dup of 1
      (3L, null.asInstanceOf[String], "en", "srcA"),                     // null text
      (4L, "", "de", "srcA"),                                           // empty
      (5L, "   \t  \n ", "es", "srcB"),                                 // whitespace only
      (6L, "a", "fr", "srcA"),                                          // single char
      (7L, "tok tok tok tok tok tok tok tok", "en", "srcA"),            // degenerate repetition
      (8L, "der schnelle braune fuchs springt und ist ein hund", "de", "srcB"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")), lit(0L)).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(d + "/documents.parquet")
    // hostile embeddings: 40 ordinary vectors, one all-zero vector
    // (zero norm → cosine undefined), one null embedding
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 10f), i % 10)
    } :+ (40L, Array.fill(64)(0f), 3) :+ (41L, null.asInstanceOf[Array[Float]], 4)
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(d + "/embeddings.parquet")
    // hostile events: nulls in every column something groups, windows,
    // joins, or aggregates on
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val eventsSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val eventRows = Seq(
      Row(0L, ts(0), 1L, "click", 1.0, """{"k": 1}"""),
      Row(1L, ts(5), 1L, "purchase", 2.0, """{"k": 2}"""),
      Row(2L, null, 1L, "click", 3.0, "{}"),      // null ts
      Row(3L, ts(10), null, "click", 4.0, "{}"),  // null user
      Row(4L, ts(15), 2L, null, 5.0, "{}"),       // null type
      Row(5L, ts(20), 2L, "click", null, null),   // null value/props
      Row(6L, ts(25), 2L, "purchase", 6.0, "not json"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(eventRows, 1), eventsSchema)
      .coalesce(1).write.mode("overwrite")
      .parquet(d + "/events.parquet")
    d
  }

  // Every documents-family query must survive the hostile corpus.
  private val docQueries = Seq(
    "t1_token_stats", "t2_lang_id", "t3_quality", "t4_fingerprint",
    "t5_repetition", "t6_tfidf", "t7_bigram_topk", "t8_quality_filter",
    "t9_mix_stats", "t10_unigram_logprob", "t11_pii_redact",
    "t12_sequence_pack", "t13_gopher_quality", "t14_heavy_hitters",
    "t15_bm25_rank", "t16_bigram_logprob", "t17_zipf_fit",
    "t21_chunk", "t22_vocab_oov", "t23_encode",
    "d1_exact_dedup", "d2_jaccard_pairs", "d3_minhash_pairs",
    "d4_simhash", "d5_simhash_pairs", "d7_chargram_pairs",
    "d8_containment_pairs", "d9_dedup_clusters", "d10_dedup_corpus",
    "d11_decontaminate", "d12_curate", "d14_decontaminate_bloom",
    "d15_ngram_spans", "d16_ngram_span_removal", "d18_quality_dedup",
    "d19_split_assign", "d20_domain_cap", "d21_soft_dedup",
    "d22_curation_pipeline", "d23_cross_dedup", "d24_shard_manifest",
    "d27_epoch_shuffle",
    "t24_novelty", "docs_jsonl_ingest",
    "t19_ccnet_buckets", "t20_dsir_weights",
    "t25_countmin", "t26_readability", "t27_sentence_chunks",
    "t28_collocations", "d25_contamination_report",
    "q46_regex", "q51_stratified_sample", "q52_weighted_mix",
    "m1_media_meta", "m2_media_fingerprint", "m3_frame_sample",
    "m4_resize", "m5_media_dedup", "m6_audio_energy",
    "m7_media_phash", "m8_media_phash_pairs",
    "m9_shot_boundaries", "m10_vad_segments", "m11_patchify",
    "m12_dct_phash", "m13_dct_phash_pairs", "t29_bpe_merges",
    "d26_temperature_mix", "m14_byte_entropy", "t30_token_budget",
    "d28_persisted_cross_dedup", "d29_edit_distance_pairs",
    "t31_classifier_filter", "d30_persisted_lsh_dedup",
    "d31_snapshot_diff", "t32_mixture_drift")

  /** Run each query through collect(), NOT count(): a count-only
    * action lets Catalyst prune unreferenced projections, hiding e.g.
    * an ANSI divide-by-zero in a metric column that only throws once
    * every column materializes. */
  private def collectAll(what: String, names: Seq[String]): Unit =
    names.foreach { name =>
      try Harness.runQuery(spark, name, dir, _.collect())
      catch { case scala.util.control.NonFatal(e) =>
        fail(s"query $name threw on the dirty $what: ${e.getMessage}")
      }
    }

  test("document-family queries run on a null/empty/degenerate corpus") {
    collectAll("corpus", docQueries)
  }

  test("embedding-family queries survive zero and null vectors") {
    collectAll("embeddings", Seq(
        "s1_cosine_topk", "s2_ann_topk", "s3_ivf_topk", "s4_knn_join",
        "s5_centroids", "s6_kmeans_assign", "s7_kmeans_iter",
        "s8_quantize_int8", "s9_dequantized_topk", "s10_pq_topk",
        "s11_radius_search", "s12_kcenter_coreset", "s13_ivfpq_topk",
        "s14_ivf_persisted_topk", "s15_mmr_rerank", "s16_ivf_knn_join",
        "s17_jl_project",
        "d6_embedding_dedup", "d13_embedding_clusters", "d17_semantic_dedup"))
  }

  test("event-family queries survive null ts/user/type/value rows") {
    collectAll("events", Seq(
        "w1_tumbling_window", "w2_sliding_window", "w3_session_window",
        "w4_first_event", "w5_funnel_join", "w6_window_topk",
        "w7_click_attribution", "w8_window_uniques", "q60_gap_fill",
        "w10_multi_touch",
        "q61_ewma", "q62_anomaly", "q63_retention", "q64_funnel",
        "q65_conversion_lag", "q66_stickiness", "w9_inactive_users",
        "events_speed_faithful", "events_speed_weighted"))
  }

  test("exact dedup accounts for every row including null/empty texts") {
    val d = graft.operators.Dedup.exactDedup(spark, dir)
    assert(d.agg(sum("n_copies")).head().getLong(0) === 8L)
    // two duplicate groups: docs 1+2 (identical text) and docs 4+5 —
    // whitespace-only normalizes to the empty string, so it is
    // content-identical to the empty doc by fingerprint semantics
    assert(d.filter(col("n_copies") === 2).count() === 2L)
  }

  test("mix stats cover all strata and shares sum to 1 over scoreable text") {
    val m = graft.operators.TextAnalysis.mixStats(spark, dir)
    assert(m.count() > 0)
    val s = m.agg(sum("token_share")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-9)
    spark.catalog.clearCache() // mixStats caches its stratum aggregate
  }
}
