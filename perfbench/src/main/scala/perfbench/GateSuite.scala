package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** Operator families of the `SparkEntry.queries` gates. Every gate must
  * match exactly one family; a trailing `*` marks a name prefix.
  */
object GateFamilies {
  private val rules: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg", "q2_join_agg", "q3_supplier_join", "q5_regional_revenue",
      "q_bucketed_join", "q_salted_join", "q_join_card", "q_zorder", "q_skipping_index", "q_upsert*",
      "q_csv_ingest", "q_jsonl_ingest"),
    "filters" -> Seq("q_bloom*", "q_xor_*", "q_fuse_*", "q_quotient_*", "q_duckdb_hash*", "q_filter_*",
      "q_adaptive_filter"),
    "dedup" -> Seq("q_dedup_*", "q_minhash_*", "q_simhash_near_dup", "q_line_dedup", "q_doc_line_dedup",
      "q_span_dedup", "q_incremental_dedup", "q_ngram_jaccard", "q_containment", "q_keep_best",
      "q_fingerprint", "q_decontaminate", "q_contamination", "q_leakage_split*", "q_editdist_*"),
    "text" -> Seq("q_bpe*", "q_token_*", "q_tfidf", "q_bm25", "q_lang_id*", "q_text_*", "q_readability",
      "q_lexdiv", "q_normalize", "q_mojibake", "q_redact*", "q_html_extract", "q_url_canon",
      "q_top_tokens", "q_unigram_lp", "q_bigram_lp", "q_collocations", "q_repetition",
      "q_vocab_coverage", "q_chunks", "q_pack", "q_quality_score", "q_inverted_index", "q_corpus_*",
      "q_source_report", "q_domain_mix", "q_temperature_mix", "q_curation", "q_pseudonymize"),
    "vectors" -> Seq("q_ann_*", "q_recall_floor_*", "q_embed_*", "q_knn_eval", "q_cosine_*", "q_pca_*",
      "q_kmeans", "q_hybrid_search", "q_mmr_rerank", "q_semdedup*", "q_incremental_semdedup"),
    "sketches" -> Seq("q_hll", "q_cms", "q_kmv", "q_histogram", "q_quantiles_auto", "q_event_percentiles",
      "q_topk", "q_drift", "q_qbin", "q_winsorize", "q_outliers", "q_profile", "q_expect"),
    "events" -> Seq("q_events_*", "q_sessionize", "q_funnel", "q_retention", "q_asof_*",
      "q_interval_overlap", "q_range_join", "q_ewma", "q_span_ranges"),
    "graph" -> Seq("q_pagerank", "q_ppr", "q_graph_stats", "q_copurchase", "q_dense_ids"),
    "multimodal" -> Seq("q_multimodal_*", "q_image_dedup", "q_audio_dedup", "q_video_dedup",
      "q_scene_cuts", "q_resample"),
    "sampling" -> Seq("q_sample_*", "q_split", "q_neg_sample", "q_calibration", "q_classifier_eval",
      "q_logistic"),
    "streaming" -> Seq("q_stream_*"),
  )
  val names: Seq[String] = rules.map(_._1)

  private def matches(rule: String, gate: String): Boolean =
    if (rule.endsWith("*")) gate.startsWith(rule.dropRight(1)) else gate == rule

  def matching(gate: String): Seq[String] =
    rules.collect { case (fam, rs) if rs.exists(matches(_, gate)) => fam }

  def of(gate: String): String = matching(gate).headOption.getOrElse("unmapped")
}

/** gate_suite: a fixed, name-ordered subset of the `SparkEntry.queries`
  * gates over the bundled sf0.001 tables, chosen so that each operator
  * family's share of a pass matches its share of a pass over all gates
  * (`--gates all` runs them all and prints those shares). Each operation
  * runs one gate into the noop sink and counts its rows with an
  * Observation, checked against `gates.tsv`; every pass starts with the
  * shared relations cleared, so each pass pays their builds in their
  * first consumer.
  */
final class GateSuite(spark: SparkSession, cfg: Config) extends Workload {
  private val dir = s"${cfg.root}/perfbench/data/sf0.001"
  private val expected: Map[String, Long] = {
    val src = scala.io.Source.fromFile(s"${cfg.root}/perfbench/gates.tsv")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(gate, rows) = l.split("\t"); gate -> rows.toLong
    }.toMap finally src.close()
  }
  private val gates: Seq[String] =
    if (cfg.smoke) Seq("q1_agg", "q_dedup_exact", "q_xor_semijoin")
    else if (cfg.allGates) SparkEntry.queries.keys.toSeq.sorted
    else expected.keys.toSeq.sorted
  private val planted = if (cfg.plantWrongCount) gates.headOption else None
  /** Rows each gate first returned, for gates without an expected count (`--gates all`). */
  private val seenRows = scala.collection.concurrent.TrieMap.empty[String, Long]

  override def beforePass(): Unit = {
    SparkEntry.clearSharedRelations()
    spark.catalog.clearCache()
  }

  def prepare(): Unit = {
    beforePass()
    SparkEntry.prepare(spark, dir)
  }

  /** The first pass is about three times as slow as later ones. */
  def warmupPasses: Int = if (cfg.allGates) 1 else 2

  private def verify(g: String, obs: Observation): Option[String] = {
    val n = Await.result(obs.future, 60.seconds).getLong(0)
    expected.get(g).map(_ + (if (planted.contains(g)) 1 else 0)) match {
      case Some(want) if n != want => Some(s"$g returned $n rows, expected $want")
      case Some(_) => None
      case None => seenRows.putIfAbsent(g, n).filter(_ != n).map(p => s"$g returned $n rows, earlier $p")
    }
  }

  lazy val ops: Seq[Op] = gates.map { g =>
    Op(g, "SparkEntry", "gate", GateFamilies.of(g), 1)(() => {
      val obs = Observation()
      SparkEntry.queries(g)(spark, dir).observe(obs, count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      obs
    }, {
      case obs: Observation => verify(g, obs)
      case other => Some(s"$g: unexpected result $other")
    })
  }

  def checks(): Seq[Check] = {
    val unmapped = SparkEntry.queries.keys.toSeq.sorted.filter(GateFamilies.matching(_).size != 1)
    val unknown = expected.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    if (seenRows.nonEmpty)
      System.err.println("perfbench gate rows " + Json.obj(seenRows.toSeq.sorted.map { case (g, n) => g -> n.toString }))
    Seq(
      Check(s"all ${SparkEntry.queries.size} gates map to exactly one family",
        if (unmapped.isEmpty) None else Some("no single family for " + unmapped.mkString(", "))),
      Check("gates.tsv names only existing gates",
        if (unknown.isEmpty) None else Some("unknown gates " + unknown.mkString(", "))))
  }

  def quality: Map[String, Double] = Map.empty
  def inputs: String = "bundled sf0.001 tables"

  def coreKeys(): CoreKeys = {
    val members = spark.read.parquet(s"$dir/orders.parquet").selectExpr("CAST(o_orderkey AS BIGINT)")
      .distinct().collect().map(_.getLong(0))
    CoreKeys(members, Array.tabulate(cfg.nonMemberSample.toInt)(i => -1L - i))
  }
}
