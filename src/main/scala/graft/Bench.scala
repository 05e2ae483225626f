package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline set, every round-addition group
  * (rep'd, median + full spread), and the registry-derived coverage
  * sweep (min-of-reps tripwire) on SPARK_GRAFT_SF_DIR; prints ONE JSON line
  * carrying `n_queries`/`n_registered`/`unbenched` so the artifact's
  * own coverage accounting can't drift from the registry. Each query is
  * forced end-to-end with a noop write (full materialization —
  * `count()` would let Catalyst skip projections).
  */
object Bench {

  // Headline set: one representative per operator family, weighted toward
  // the scale-sensitive ones (joins, windows, dedup candidates, top-k).
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_pushdown", "q03_shipping_priority",
    "q04_broadcast_join", "q05_star_join", "q07_window_running",
    "q08_topk", "q13_rollup", "q16_range_join", "q17_asof_join",
    "q23_sessionize", "q24_window_hourly",
    "ingest_size_rotation", "ingest_partition_hourly", "ingest_dlq_routing",
    "text_quality", "text_fingerprint",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "sim_topk_bruteforce", "sim_topk_ivf", "mm_features",
    "pack_context_windows", "corpus_similarity")

  // Round-7 additions: the round-6 operator families, benched SEPARATELY
  // so their regressions are visible without disturbing the original
  // 25-query set's baseline comparability ("value" still sums only the
  // headline set; these report under "queries_r7"/"value_r7").
  val additionsR7: Seq[String] = Seq(
    "dedup_substring", "dedup_substring_incr", "dedup_incremental_bloom",
    "emb_pca_project", "text_bpe_pairs", "text_bpe_apply",
    "lake_cdc_merge", "pipeline_tokenizer_prep")

  // Round-9 additions, reported under "queries_r9"/"value_r9": the
  // Lloyd-refined ANN path, the blocked containment path, and the
  // oracle-checked full BPE retrain.
  val additionsR9: Seq[String] = Seq(
    "sim_topk_ivf_lloyd", "sim_topk_ivfsq_lloyd", "sim_topk_ivf_served",
    "dedup_containment_blocked", "text_bpe_merges",
    "sim_topk_pq_rerank", "sim_topk_ivfpq_rerank")

  // Round-10 additions, reported under "queries_r10"/"value_r10": the
  // multi-assignment rerank composition, plus the iterative LR trainer/
  // scorer (round-9 advice: iters full-corpus scans with no bench row).
  val additionsR10: Seq[String] = Seq(
    "sim_topk_ivfpq_rerank_ma", "sim_topk_ivfpq_served",
    "sim_topk_hamming", "sim_topk_hamming_rerank",
    "text_lr_train", "text_lr_score",
    "dedup_cdc_ratio", "dedup_cdc_chunks", "dedup_cdc_incr",
    "mix_waterfill", "sample_mix_waterfill", "text_wordpiece",
    "text_wordpiece_merges", "text_unigram", "text_unigram_train",
    "text_bm25_retrieve", "profile_kmv_distinct", "profile_cm_heavy",
    "text_textrank",
    "sim_hard_negatives", "sim_topk_mmr", "retrieve_hybrid_rrf",
    "text_gopher_rules", "shard_curriculum",
    "sim_contrastive_triplets", "sample_kcenter", "sim_topk_mmr_ivf",
    "emb_matryoshka_recall", "profile_table_integrity",
    "pipeline_curation_shards", "text_entropy",
    "text_novelty", "profile_zipf", "q48_anomaly_mad", "text_blocklist",
    "text_top_ngram_frac", "graph_pagerank", "graph_hubness",
    "emb_bisecting", "graph_ppr_seeds", "sample_cluster_quota")

  // Round-11 additions, reported under "queries_r11"/"value_r11".
  val additionsR11: Seq[String] = Seq(
    "graph_pagerank_ivf", "dedup_embedding", "dedup_incremental_emb",
    "emb_pca_project",
    "graph_label_prop", "graph_kcore", "sim_topk_graph",
    "er_fuzzy_match", "profile_hll_distinct", "text_lr_calibrate",
    "emb_silhouette", "retrieve_eval_metrics", "text_pmi_collocations",
    "emb_outliers", "profile_len_quantiles", "q49_hll_hourly",
    "q50_user_churn", "profile_hll_merge", "dedup_jaccard_prefix",
    "text_lr_ranking", "profile_cm_merge", "profile_kmv_overlap",
    "q51_funnel", "eval_confusion")

  // Round-12 additions, reported under "queries_r12"/"value_r12" —
  // includes text_readability and q52_abtest, registered in round 11 but
  // missed by additionsR11 (round-11 advice).
  val additionsR12: Seq[String] = Seq(
    "text_readability", "q52_abtest", "q53_abtest_ci", "q54_abtest_cuped",
    "graph_label_prop_ivf", "graph_kcore_ivf",
    "privacy_k_anon", "privacy_k_hist", "mix_epoch_alloc",
    "sample_epoch_mix", "q55_seasonal_hours",
    "q56_survival_km", "q57_ewma_hours", "q58_srm_check",
    "profile_cm_join_est", "corpus_js_divergence", "text_quality_qnorm",
    "profile_pareto_front", "er_jaro_blocked",
    "q59_trend_mk", "q60_markov_trans", "q61_markov_stationary",
    "q62_abtest_winsor", "q63_bootstrap_ci", "privacy_entropy_l",
    "sim_topk_graph_ivf", "eval_lsh_quality",
    "q64_did_readout", "q65_cusum_change", "eval_brier_bins",
    "profile_psi_drift", "mm_near_dup", "q66_mase_seasonal",
    "privacy_t_close", "profile_dedup_impact", "eval_ece",
    "profile_gini")

  // Round-13 additions, reported under "queries_r13"/"value_r13".
  val additionsR13: Seq[String] = Seq(
    "q63b_bootstrap_poisson", "q67_power_mde", "sample_dsir_gumbel",
    "profile_emb_drift", "text_bpe_compression", "sim_topk_ivf_upserted")

  // Round-14 additions, reported under "queries_r14"/"value_r14".
  val additionsR14: Seq[String] = Seq(
    "mm_decode_image", "ingest_partition_change_off", "mix_doremi",
    "sim_topk_ivf_compacted", "pipeline_doremi_mix", "dedup_intra_doc",
    "graph_triangles", "emb_rp_project", "q68_group_seq",
    "privacy_rr_freq", "sample_neyman", "pipeline_neyman_sample",
    "pack_nextfit", "eval_conformal", "q69_theil_sen",
    "q70_attribution", "sim_topk_ivf_deleted")

  // Round-15 additions, reported under "queries_r15"/"value_r15".
  val additionsR15: Seq[String] = Seq(
    "ingest_wireformat_avro", "q69b_theil_sen_banded", "q71_mwu",
    "q72_bh_fdr", "q73_ks_drift", "q74_wasserstein",
    "quality_lr_refresh", "eval_auc",
    // the materialized-serving layer (SummaryRewrite)
    "lake_summary_serve", "lake_summary_rollup", "lake_summary_percentile",
    "lake_summary_star", "lake_summary_ivm", "lake_summary_hll",
    "lake_summary_cm")

  // Round-16 additions, reported under "queries_r16"/"value_r16".
  val additionsR16: Seq[String] = Seq(
    "ingest_avro_union", "mm_dhash_dedup", "mm_dhash_near_dup",
    "mm_resize_real", "mm_dhash_incremental")

  /** Every registered query belongs to exactly one bench surface: the
    * headline set, a round-addition group, or — for everything else —
    * this COVERAGE SWEEP, computed from the registry itself so a newly
    * registered query can never silently go un-timed again (round-12
    * verdict: 110 of 251 registered queries had no bench row anywhere,
    * making a perf regression there invisible). The sweep records
    * min-of-reps — it is a regression tripwire, not a scoreboard; the
    * grouped sets keep the median+spread discipline. Round-15 TIERING
    * (r14 verdict #7 — the sweep cost ~18 min and grows every round):
    * a row with a committed min in BENCH_FULL.json runs ONE rep; only
    * a breach (single rep > 1.5× the committed min) or a failure
    * triggers re-adjudication (two more reps — min-of-3 recovers a
    * dirty window, a real regression stays visible in all three).
    * Rows with no committed min (new this round) keep the full
    * SWEEP_REPS + adaptive-extra discipline. Same tripwire, ~half the
    * wall. */
  def coverageSweep: Seq[String] =
    (SparkEntry.queries.keySet --
      (headline ++ additionsR7 ++ additionsR9 ++ additionsR10 ++
        additionsR11 ++ additionsR12 ++ additionsR13 ++
        additionsR14 ++ additionsR15 ++ additionsR16)).toSeq.sorted

  /** Flat {"name":num,...} map under `key` in the committed
    * BENCH_FULL.json (CWD-relative); empty when absent. */
  private def committedMap(key: String): Map[String, Double] =
    try {
      val txt = scala.io.Source.fromFile("BENCH_FULL.json").mkString
      ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").flatMap { kv =>
          kv.split(":") match {
            case Array(k, v) =>
              val vv = v.toDouble
              if (vv > 0) Some(k.trim.stripPrefix("\"").stripSuffix("\"")
                -> vv)
              else None
            case _ => None
          }
        }.toMap).getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** queries_sweep mins from the committed BENCH_FULL.json
    * — the baseline the tiered sweep's tripwire compares against. */
  def committedSweepMins(): Map[String, Double] = committedMap("queries_sweep")

  /** Committed medians for the headline + every round-addition group —
    * the reference the group rows' breach re-adjudication compares
    * against (round-15 verdict #4: group rows were single-statistic
    * scalars with no breach retry, which is how an 18 s drifted reading
    * sailed into BENCH_FULL unchallenged). */
  def committedGroupStats(): Map[String, Double] =
    (Seq("queries") ++ (7 to 40).map(i => s"queries_r$i"))
      .flatMap(committedMap).toMap

  // ---- soak components, individually nameable --------------------------
  // Round-15 verdict #3: the 10x soak ratios were single-shot readings
  // outside every replay harness, so a drifted-VM alarm (cdc_ratio 51)
  // could not be adjudicated. Each soak side is now a named component
  // (`runMain graft.Bench soak_cdc_10x ...` times exactly it, same
  // reps/spread contract as registry queries), so tools/ab_replay.py
  // adjudicates soak alarms with the identical isolated min-of-reps
  // discipline used for query breaches.

  private def timedCount(f: => Long): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** A fresh streaming-soak work dir for `f`, deleted when `f` returns or
    * throws. */
  private def withWorkDir[T](f: String => T): T = {
    val work = s"${System.getProperty("java.io.tmpdir")}/graft_strm_" +
      java.util.UUID.randomUUID().toString.take(8)
    try f(work)
    finally org.apache.hadoop.fs.FileSystem
      .getLocal(new org.apache.hadoop.conf.Configuration())
      .delete(new org.apache.hadoop.fs.Path(work), true)
  }

  /** Wait for a soak query to drain. One still running after 600 s is
    * stopped and fails its row, rather than reading as a 600 s time. */
  private def awaitSoak(q: org.apache.spark.sql.streaming.StreamingQuery,
                        name: String): Long = {
    if (!q.awaitTermination(600000)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"$name: stream still running after 600 s")
    }
    0L
  }

  /** The soak corpus: sf documents at 1x, or replicated 10x with
    * per-replica perturbation (distinct suffix token per replica so
    * fingerprints/shingles don't collapse to exact duplicates). */
  def soakDocs(spark: SparkSession, sfDir: String,
               tenX: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val d1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    if (!tenX) d1
    else d1.select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lit(9L))).as("rep"))
      .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
  }

  /** Synthetic deterministic 8-out-degree graph (soak2's iteration-
    * machinery isolation). */
  private def soakEdges(spark: SparkSession,
                        n: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(col("id").as("src"))
      .select(col("src"), explode(sequence(lit(1L), lit(8L))).as("j"))
      .select(col("src"), ((col("src") * 31 + col("j") * 7919) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  private def soakBm25(spark: SparkSession, sfDir: String, tenX: Boolean,
                       qMod: Long): Double = {
    import org.apache.spark.sql.functions._
    val df = soakDocs(spark, sfDir, tenX)
    val toks = df.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val q = toks.filter(size(col("toks")) >= 11 && col("doc_id") % qMod === 0)
      .select(col("doc_id").as("q_id"), explode(array_distinct(array(
        try_element_at(col("toks"), lit(3)),
        try_element_at(col("toks"), lit(7)),
        try_element_at(col("toks"), lit(11))))).as("term"))
      .filter(col("term") =!= "")
    val s = timedCount(graft.analytics.TextAnalysis.bm25Retrieve(df,
      col("doc_id"), graft.analytics.TextAnalysis.ngrams(col("text"), 2),
      q, k = 5, excludeSelf = true).count())
    graft.analytics.Caches.clear(); s
  }

  val soakComponents: Map[String, (SparkSession, String) => Double] = {
    import org.apache.spark.sql.functions._
    def docsOp(tenX: Boolean)(
        op: org.apache.spark.sql.DataFrame => Long):
        (SparkSession, String) => Double =
      (s, d) => {
        val t = timedCount(op(soakDocs(s, d, tenX)))
        graft.analytics.Caches.clear(); t
      }
    def graphOp(n: Long)(op: org.apache.spark.sql.DataFrame => Long):
        (SparkSession, String) => Double =
      (s, _) => {
        val t = timedCount(op(soakEdges(s, n)))
        graft.analytics.Caches.clear(); t
      }
    def exactOp(df: org.apache.spark.sql.DataFrame): Long =
      graft.analytics.Dedup.exact(df, col("doc_id"), col("text")).count()
    def minhashOp(df: org.apache.spark.sql.DataFrame): Long =
      graft.analytics.Dedup.minhashLshPairs(df, col("doc_id"),
        col("text")).count()
    def cdcOp(df: org.apache.spark.sql.DataFrame): Long =
      graft.analytics.Dedup.cdcDedupStats(df, col("doc_id"),
        col("text")).count()
    def subOp(df: org.apache.spark.sql.DataFrame): Long =
      graft.analytics.Dedup.substringDedup(df, col("doc_id"), col("text"),
        k = 15).count()
    Map(
      "soak_exact_1x" -> docsOp(false)(exactOp),
      "soak_exact_10x" -> docsOp(true)(exactOp),
      "soak_minhash_1x" -> docsOp(false)(minhashOp),
      "soak_minhash_10x" -> docsOp(true)(minhashOp),
      "soak_cdc_1x" -> docsOp(false)(cdcOp),
      "soak_cdc_10x" -> docsOp(true)(cdcOp),
      "soak_substr_1x" -> docsOp(false)(subOp),
      "soak_substr_10x" -> docsOp(true)(subOp),
      "soak_bm25_1x" -> ((s, d) => soakBm25(s, d, tenX = false, qMod = 25L)),
      "soak_bm25_10x" -> ((s, d) => soakBm25(s, d, tenX = true, qMod = 25L)),
      "soak_bm25_fixedq_10x" ->
        ((s, d) => soakBm25(s, d, tenX = true, qMod = 250L)),
      "soak_pagerank_1x" -> graphOp(5000L)(e =>
        graft.analytics.Graph.pageRank(e, col("src"), col("dst"),
          iters = 10).count()),
      "soak_pagerank_10x" -> graphOp(50000L)(e =>
        graft.analytics.Graph.pageRank(e, col("src"), col("dst"),
          iters = 10).count()),
      "soak_triangles_1x" -> graphOp(5000L)(e =>
        graft.analytics.Graph.triangles(e, col("src"), col("dst")).count()),
      "soak_triangles_10x" -> graphOp(50000L)(e =>
        graft.analytics.Graph.triangles(e, col("src"), col("dst")).count()),
      // ---- streaming sink families (round 17, r16 verdict #9): one
      // timed micro-row each, driven through REAL StreamingQuery runs
      // (file source, AvailableNow, fresh work dirs per invocation —
      // Kafka in production swaps the source line only). Fixture prep
      // (writing the source parquet) happens OUTSIDE the timed region;
      // the timed region is sink wiring + the full streaming run.
      "soak_stream_ingest" -> ((s, d) => withWorkDir { work =>
        import org.apache.spark.sql.functions._
        val src = s"$work/src"
        Tables.load(s, d, "events")
          .select(pmod(col("user_id"), lit(4)).cast("int")
            .as("kafka_partition"),
            col("event_id").cast("long").as("offset"),
            col("event_type"), col("value"))
          .write.mode("overwrite").parquet(src)
        val schema = s.read.parquet(src).schema
        val t = timedCount {
          val q = graft.streaming.StreamingIngest.start(
            s.readStream.schema(schema).parquet(src),
            graft.ingest.IngestConfig(topic = "soak_stream",
              flushSize = 2000),
            graft.ingest.Partitioners.fieldPartition(
              "event_type" -> col("event_type")),
            s"$work/out", s"$work/ckpt",
            col("kafka_partition"), col("offset"),
            payloadCols = Seq(col("offset"), col("event_type"),
              col("value")))
          awaitSoak(q, "soak_stream_ingest")
        }
        graft.analytics.Caches.clear(); t
      }),
      "soak_stream_hll" -> ((s, d) => withWorkDir { work =>
        import org.apache.spark.sql.functions._
        val src = s"$work/src"
        Tables.load(s, d, "events")
          .select(col("event_type"), col("user_id"))
          .write.mode("overwrite").parquet(src)
        val schema = s.read.parquet(src).schema
        val t = timedCount {
          val q = graft.streaming.StreamingIngest.runningDistinct(
            s.readStream.schema(schema).parquet(src),
            col("event_type"), col("user_id").cast("string"))
            .writeStream.outputMode("update").format("noop")
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", s"$work/ckpt").start()
          awaitSoak(q, "soak_stream_hll")
        }
        graft.analytics.Caches.clear(); t
      }),
      "soak_stream_dhash" -> ((s, d) => withWorkDir { work =>
        import org.apache.spark.sql.functions._
        import s.implicits._
        val src = s"$work/src"
        // deterministic synthetic PNG stream (the mm fixture's shape:
        // ids sized (id%31+1, id%17+1)); history = every 3rd image
        val media = s.range(0, 500).as[Long].map { id =>
          graft.analytics.Multimodal.MediaRecord(id, "image/png",
            graft.analytics.Multimodal.encodePng(id, (id % 31 + 1).toInt,
              (id % 17 + 1).toInt))
        }
        media.toDF().write.mode("overwrite").parquet(src)
        val hist = graft.analytics.Multimodal.dHash56(
          media.filter(_.id % 3 == 0)).toDF().select(col("dhash"))
        val schema = s.read.parquet(src).schema
        val t = timedCount {
          val gate = graft.streaming.Gates.imageDedup(hist, "id")
          val q = s.readStream.schema(schema).parquet(src)
            .writeStream.outputMode("append")
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", s"$work/ckpt")
            .foreachBatch {
              (b: org.apache.spark.sql.DataFrame, _: Long) =>
                gate(b).write.format("noop").mode("overwrite").save(); ()
            }.start()
          awaitSoak(q, "soak_stream_dhash")
        }
        graft.analytics.Caches.clear(); t
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup on the smallest SF so measured times are steady-state.
    SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()

    // Median-of-3 per query: single-shot numbers on a shared host record
    // session noise as fact (round 9's artifact showed a 4x outlier that an
    // isolated replay disproved). Three timed reps per query, the median is
    // the official number, and the [min,max] spread is emitted alongside so
    // a noisy rep is visible instead of silently becoming the scoreboard.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def runReps(names: Seq[String], r: Int): Seq[(String, Seq[Double])] =
      names.filter(SparkEntry.queries.contains).map { name =>
        val times = (1 to r).map { _ =>
          val t0 = System.nanoTime()
          val ok = try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          } finally graft.analytics.Caches.clear()
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        name -> times
      }
    def run(names: Seq[String]): Seq[(String, Seq[Double])] =
      runReps(names, reps)
    def median(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0
      else ts.sorted.apply(ts.size / 2)
    def minOf(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    // A retried row records the MEDIAN OF ITS RERUN (a fresh full rep
    // set), not a fold over originals+retries: the median over the
    // combined reps is mathematically still the breached value (the
    // retry could never overwrite a drifted reading), while a min over
    // them would silently mix two statistics in the committed maps AND
    // mask crashed reps (min filters -1 sentinels; failures must stay
    // machine-loud). Discarding the dirty window and recording one
    // clean window's median keeps the statistic uniform — a real
    // regression reproduces in the rerun, a crash in the rerun records
    // -1 and exits non-zero, and the full original+rerun sequence stays
    // visible in spread.
    // one structure: keys are the retried rows (feeds group_retried),
    // values the rerun reps (feed groupStat) — parallel collections
    // could silently desynchronize
    val groupRerun =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def groupStat(k: String, ts: Seq[Double]): Double =
      groupRerun.get(k).map(median).getOrElse(median(ts))
    def json(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) => "\"" + k + f"\":${groupStat(k, ts)}%.3f" }
        .mkString("{", ",", "}")
    // full rep array IN RUN ORDER, not just [min,max]: a contended host
    // window shows up as a drifting sequence (and the round-11 artifact's
    // apparent 4-10x regressions were exactly that) — with the raw reps
    // committed, a reader can see contention instead of inferring it.
    // min-of-reps is the regression-gate statistic (SCALE.md): medians
    // are poisoned by a contended window, minima are not.
    def spreadJson(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def total(rs: Seq[(String, Seq[Double])]): Double =
      rs.map { case (k, ts) => groupStat(k, ts) }.filter(_ >= 0).sum
    // `runMain graft.Bench name1 name2` times ONLY the named queries —
    // the isolated-replay workflow used to check a full-artifact outlier.
    // Soak components (soak_cdc_10x, …) are first-class names here, so
    // ab_replay.py adjudicates soak alarms with the same discipline.
    if (args.nonEmpty) {
      val picked = run(args.toSeq.filter(SparkEntry.queries.contains))
      val soaks = args.toSeq.filter(soakComponents.contains).map { name =>
        name -> (1 to reps).map { _ =>
          try soakComponents(name)(spark, sfDir)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        }
      }
      val all = picked ++ soaks
      println(f"""{"metric":"isolated","reps":$reps,"queries":${json(all)},"spread":${spreadJson(all)},"sf":"$sfDir"}""")
      spark.stop()
      return
    }
    // Round-16 (verdict #4): the group rows get breach tiering — each
    // row runs its usual reps, and a min-of-reps more than 1.5x the
    // COMMITTED group statistic (or an all-failed row) triggers a FULL
    // RERUN on the spot whose median becomes the recorded value (see
    // groupStat above). `group_retried` names the rows that tripped; a
    // row whose rerun median still breaches is a real regression, not
    // a dirty window.
    val committedGroup = committedGroupStats()
    def runGroup(names: Seq[String]): Seq[(String, Seq[Double])] =
      names.filter(SparkEntry.queries.contains).map { name =>
        val ts = runReps(Seq(name), reps).head._2
        val ok = ts.filter(_ >= 0)
        val breach = committedGroup.get(name) match {
          case Some(c) => ok.isEmpty || ok.min > c * 1.5
          case None => ok.isEmpty
        }
        if (breach) {
          val rerun = runReps(Seq(name), reps).head._2
          groupRerun(name) = rerun
          name -> (ts ++ rerun)
        } else name -> ts
      }
    val results = runGroup(headline)
    val r7 = runGroup(additionsR7)
    val r9 = runGroup(additionsR9)
    val r10 = runGroup(additionsR10)
    val r11 = runGroup(additionsR11)
    val r12 = runGroup(additionsR12)
    val r13 = runGroup(additionsR13)
    val r14 = runGroup(additionsR14)
    val r15 = runGroup(additionsR15)
    val r16 = runGroup(additionsR16)
    // the registry-derived remainder (tripwire, not scoreboard);
    // SPARK_GRAFT_SKIP_SWEEP=1 skips it for quick runs. Round-13 lesson:
    // a single in-session rep records contention as fact (phantom 4-22x
    // "regressions" — text_top_ngram_frac 17.6 s recorded vs 5.2 s
    // isolated — that nearly buried the genuine q40 catch), so the sweep
    // now gets the same min-of-reps discipline as the grouped sets:
    // SPARK_GRAFT_SWEEP_REPS reps (default 2) plus ONE adaptive extra
    // rep when the observed spread exceeds 1.3x (a spike in either rep
    // means the window was dirty — the third rep recovers the min), and
    // the recorded statistic is min-of-reps with the full rep array
    // committed in sweep_spread.
    val sweepReps = sys.env.getOrElse("SPARK_GRAFT_SWEEP_REPS", "2").toInt
    // round-15 tiering: rows with a committed min run 1 rep; breach
    // (>1.5x committed) or failure re-adjudicates with 2 more reps.
    // sweepRetried records which rows tripped — an all-reps breach there
    // is a real regression, not noise.
    val committedMins = committedSweepMins()
    val sweepRetried = scala.collection.mutable.ArrayBuffer.empty[String]
    val sweep =
      if (sys.env.get("SPARK_GRAFT_SKIP_SWEEP").contains("1")) Seq.empty
      else coverageSweep.map { name =>
        committedMins.get(name) match {
          case Some(c) =>
            val ts = runReps(Seq(name), 1).head._2
            val ok = ts.filter(_ >= 0)
            if (ok.isEmpty || ok.min > c * 1.5) {
              sweepRetried += name
              name -> (ts ++ runReps(Seq(name), 2).head._2)
            } else name -> ts
          case None =>
            val ts = runReps(Seq(name), sweepReps).head._2
            val ok = ts.filter(_ >= 0)
            val dirty = ok.nonEmpty &&
              (ok.size < ts.size || (ts.size > 1 && ok.max / ok.min > 1.3))
            if (dirty) name -> (ts ++ runReps(Seq(name), 1).head._2)
            else name -> ts
        }
      }
    def jsonMin(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, ts) => "\"" + k + f"\":${minOf(ts)}%.3f" }
        .mkString("{", ",", "}")
    // BPE batched-trainer scale diagnostic (round-8 verdict item): train
    // 32 merges on the full corpus and report rounds + width — the batch
    // width is the 32k-vocab production bound (rounds ≈ vocab/width).
    // This corpus has a 31-word vocabulary, which bounds achievable
    // width (dense symbol collisions; see BpeBatchWidthSpec for the
    // floor) — bpe_train_scale below is the non-degenerate measurement.
    val bpe = {
      val t0 = System.nanoTime()
      val (df, rounds) = graft.analytics.TextAnalysis
        .bpeTrainBatchedWithRounds(
          Tables.load(spark, sfDir, "documents"),
          org.apache.spark.sql.functions.col("text"), merges = 32)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.analytics.Caches.clear()
      f"""{"merges":$n,"rounds":$rounds,"width":${n.toDouble / rounds}%.2f,"sec":$sec%.3f}"""
    }
    // BPE retrain at a NON-degenerate merge count (round-9 verdict): the
    // raw corpus has a 31-word vocabulary, so the 32-merge diagnostic
    // above saturates at width ~1.6 by construction and proves nothing
    // about batching at production vocabulary sizes. Deriving the token
    // stream as word BIGRAMS (t1_t2 t2_t3 ... — deterministic, from the
    // same documents table) yields a ~960-type vocabulary of ~11-char
    // units, where 256 merges are attainable and the batch width can
    // actually express — rounds << merges is the whole value of the
    // batched trainer at a 32k-merge production run.
    val bpeScale = {
      import org.apache.spark.sql.functions._
      val docs = Tables.load(spark, sfDir, "documents")
        .select(array_join(transform(
          graft.analytics.TextAnalysis.ngrams(col("text"), 2),
          g => regexp_replace(g, " ", "_")), " ").as("text"))
      val t0 = System.nanoTime()
      val (df, rounds) = graft.analytics.TextAnalysis
        .bpeTrainBatchedWithRounds(docs, col("text"), merges = 256)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.analytics.Caches.clear()
      f"""{"merges":$n,"rounds":$rounds,"width":${n.toDouble / rounds}%.2f,"sec":$sec%.3f}"""
    }
    // 1024-merge scorecard (round-13 verdict #8): the production-width
    // evidence for the 32k-vocab trajectory — the 256-merge row holds
    // width ~5.5, and the claim "rounds ≈ merges/width" must survive a
    // 4x merge-count step, not be an artifact of stopping early. Word
    // TRIGRAM units (same derivation idea as bpe_train_scale's bigrams)
    // give a vocabulary deep enough that 1024 merges stay non-degenerate.
    val bpeScale1024 = {
      import org.apache.spark.sql.functions._
      val docs = Tables.load(spark, sfDir, "documents")
        .select(array_join(transform(
          graft.analytics.TextAnalysis.ngrams(col("text"), 3),
          g => regexp_replace(g, " ", "_")), " ").as("text"))
      val t0 = System.nanoTime()
      val (df, rounds) = graft.analytics.TextAnalysis
        .bpeTrainBatchedWithRounds(docs, col("text"), merges = 1024)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.analytics.Caches.clear()
      f"""{"merges":$n,"rounds":$rounds,"width":${n.toDouble / rounds}%.2f,"sec":$sec%.3f}"""
    }
    // Blocked-vs-exact containment crossover (round-9 verdict): the
    // driver's synthetic corpus is degenerate for blocking (tiny vocab —
    // 27% of ALL pairs share a shingle, so candidates ≈ sharing pairs and
    // exact's narrow join wins). This diagnostic derives a corpus with the
    // shape real crawls have — mostly doc-unique shingles, a corpus-wide
    // boilerplate run (exact's Σ df² bomb: every pair co-occurs on it),
    // and planted embedded pairs — and times both operators on it. The
    // df-capped blocked path must win here; both must emit the identical
    // pair set (boilerplate-only overlap stays under the 0.8 threshold).
    val crossover = {
      import org.apache.spark.sql.functions._
      val docs = Tables.load(spark, sfDir, "documents")
        // 2-of-5 hash sample bounds the diagnostic at larger SFs
        .filter(pmod(xxhash64(col("doc_id")), lit(5)) < 2)
        .withColumn("k", (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("doc_id")))
          - 1).cast("long"))
      val uniq = array_join(transform(sequence(lit(0), lit(39)),
        i => substring(md5(concat(col("doc_id"), lit("_"), i)), 1, 10)), " ")
      val shared = array_join(transform(sequence(lit(0), lit(29)),
        i => concat(lit("p"), (col("k") / 2).cast("long"), lit("x"), i)), " ")
      val boiler = array_join(transform(sequence(lit(0), lit(19)),
        i => concat(lit("b"), i)), " ")
      // even k = super (unique + shared + boiler), odd k = sub (shared +
      // boiler): containment(sub→super) ≈ .95, boilerplate-only ≈ .4
      val corpus = docs.select(col("doc_id"),
        when(col("k") % 2 === 0, concat_ws(" ", uniq, shared, boiler))
          .otherwise(concat_ws(" ", shared, boiler)).as("text"))
      val n = corpus.count()
      def t(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (exactSec, exactRows) = t {
        graft.analytics.Dedup.containmentPairs(corpus, col("doc_id"),
          col("text"), 3, 0.8).count()
      }
      graft.analytics.Caches.clear()
      val (blockedSec, blockedRows) = t {
        graft.analytics.Dedup.containmentPairsBlocked(corpus, col("doc_id"),
          col("text"), 3, 0.8, window = 4, maxDf = 64).count()
      }
      graft.analytics.Caches.clear()
      f"""{"docs":$n,"exact_sec":$exactSec%.3f,"blocked_sec":$blockedSec%.3f,"exact_pairs":$exactRows,"blocked_pairs":$blockedRows}"""
    }
    // 10x scale soak (round-10): replicate the corpus 10x with per-replica
    // perturbation (each replica gets a distinct suffix token, so
    // fingerprints/shingles don't collapse to exact duplicates) and time
    // three corpus-heavy operators at 1x and 10x. The RATIO is the
    // scaling exponent made visible: ~10 means the operator is linear in
    // corpus size at this shape, >>10 means something superlinear
    // (quadratic candidate fan-out, an unpartitioned sort) is hiding at
    // small SF — exactly the regression the sf0.1 bench alone cannot see.
    val scaleSoak = {
      // components shared with the nameable soak rows (ab_replay can
      // re-time any side of any ratio in isolation)
      def c(n: String): Double = soakComponents(n)(spark, sfDir)
      val n1 = soakDocs(spark, sfDir, tenX = false).count()
      val n10 = soakDocs(spark, sfDir, tenX = true).count()
      val (e1, m1, c1) =
        (c("soak_exact_1x"), c("soak_minhash_1x"), c("soak_cdc_1x"))
      val (e10, m10, c10) =
        (c("soak_exact_10x"), c("soak_minhash_10x"), c("soak_cdc_10x"))
      f"""{"docs_1x":$n1,"docs_10x":$n10,"exact_1x":$e1%.3f,"exact_10x":$e10%.3f,"exact_ratio":${e10 / e1}%.2f,"minhash_1x":$m1%.3f,"minhash_10x":$m10%.3f,"minhash_ratio":${m10 / m1}%.2f,"cdc_1x":$c1%.3f,"cdc_10x":$c10%.3f,"cdc_ratio":${c10 / c1}%.2f}"""
    }
    // Round-11 soak: the same 10x-ratio methodology extended to the three
    // heaviest NON-dedup-family operators (round-10 verdict #6) — the
    // substring-span window, the BM25 posting build, and the PageRank
    // iteration loop. Substring is O(total tokens log p) (one doc-keyed
    // window over spans), BM25 is linear in postings (df-capped join), and
    // PageRank is iters x |edges|; a ratio far above 10 would expose a
    // hidden super-linear path the sf0.1 bench can't see.
    val scaleSoak2 = {
      // same component reuse as scale_soak — every side is a nameable
      // row the replay harness can re-time in isolation
      def c(n: String): Double = soakComponents(n)(spark, sfDir)
      val (s1, s10) = (c("soak_substr_1x"), c("soak_substr_10x"))
      val (b1, b10) = (c("soak_bm25_1x"), c("soak_bm25_10x"))
      val bfq10 = c("soak_bm25_fixedq_10x")
      val (g1, g10) = (c("soak_pagerank_1x"), c("soak_pagerank_10x"))
      val (t1, t10) = (c("soak_triangles_1x"), c("soak_triangles_10x"))
      f"""{"substr_1x":$s1%.3f,"substr_10x":$s10%.3f,"substr_ratio":${s10 / s1}%.2f,"bm25_1x":$b1%.3f,"bm25_10x":$b10%.3f,"bm25_ratio":${b10 / b1}%.2f,"bm25_fixedq_10x":$bfq10%.3f,"bm25_fixedq_ratio":${bfq10 / b1}%.2f,"pagerank_1x":$g1%.3f,"pagerank_10x":$g10%.3f,"pagerank_ratio":${g10 / g1}%.2f,"triangles_1x":$t1%.3f,"triangles_10x":$t10%.3f,"triangles_ratio":${t10 / t1}%.2f}"""
    }
    // Streaming sink families timed end-to-end (round 17, r16 verdict
    // #9): rotation ingest, HLL-register running-distinct, dHash image
    // gate. Each side is a nameable soak component, so ab_replay
    // adjudicates a streaming alarm with the standard isolated
    // min-of-reps discipline; committed stats live in this block.
    val streamingTimes = Seq("soak_stream_ingest", "soak_stream_hll",
      "soak_stream_dhash").map { n =>
      n -> (try soakComponents(n)(spark, sfDir)
            catch { case e: Throwable =>
              System.err.println(s"[bench] $n failed: ${e.getMessage}")
              -1.0
            })
    }.toMap
    val streamingBlock = {
      val i = streamingTimes("soak_stream_ingest")
      val h = streamingTimes("soak_stream_hll")
      val g = streamingTimes("soak_stream_dhash")
      f"""{"ingest_sec":$i%.3f,"hll_sec":$h%.3f,"dhash_gate_sec":$g%.3f}"""
    }
    // Failures must be machine-loud, not just a -1.0 sentinel buried in the
    // metrics (round 8's bench read as rc:0 with six dead queries): name
    // them in an explicit "failed" list AND exit non-zero.
    val grouped =
      results ++ r7 ++ r9 ++ r10 ++ r11 ++ r12 ++ r13 ++ r14 ++ r15 ++ r16
    val failed = grouped.collect { case (k, ts) if groupStat(k, ts) < 0 => k } ++
      sweep.collect { case (k, ts) if minOf(ts) < 0 => k } ++
      streamingTimes.collect { case (k, t) if t < 0 => k }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spread = spreadJson(grouped)
    // machine-parsed coverage accounting: the artifact itself must state
    // how many registry queries it timed, and the registry size, so the
    // two can never drift apart silently again (round-12 commit messages
    // claimed 170 benched queries while the artifact held 141)
    val benchedNames = (grouped ++ sweep).map(_._1).distinct
    val nRegistered = SparkEntry.queries.size
    val unbenched = (SparkEntry.queries.keySet -- benchedNames.toSet)
      .toSeq.sorted
    val unbenchedJson = unbenched.map("\"" + _ + "\"").mkString("[", ",", "]")
    // machine-loud confirmed breaches: a retried row whose RERUN median
    // still exceeds 1.5x the committed statistic is either a real
    // regression or two dirty windows in a row — either way it must be
    // named in the artifact, not discoverable only by diffing medians.
    // (The recorded median re-commits each round, so a doubly-dirty
    // window self-corrects on the next clean run rather than ratcheting.)
    val groupBreachConfirmed = groupRerun.collect {
      case (k, rerun) if committedGroup.get(k)
        .exists(c => median(rerun) < 0 || median(rerun) > c * 1.5) => k
    }.toSeq
    // Window-drift normalization (round 16, learned the night the VM ran
    // every Spark row 1.2-1.5x slow while CPU/IO probes stayed healthy):
    // a uniformly slow window trips dozens of per-row breaches that then
    // "confirm" on retry because the rerun shares the window — drift
    // reads as regression, 33 rows loud, zero of them real. So the
    // artifact now records the WINDOW itself: window_factor = median
    // over all group rows with a committed statistic of
    // (min-of-reps / committed). ~1.0 = clean window; >>1 = the whole
    // window ran slow and per-row breaches must be read against it.
    // group_breach_confirmed_adj re-tests each confirmed breach against
    // committed * 1.5 * max(1, window_factor): a real regression stays
    // named even in a slow window (it breaches ON TOP of the uniform
    // drift), while pure drift empties the adjusted list. The raw
    // confirmed list stays in the artifact — the adjusted list is the
    // triage order, not a replacement for the evidence.
    val windowRatios = grouped.flatMap { case (k, ts) =>
      val ok = ts.filter(_ >= 0)
      committedGroup.get(k).collect {
        case c if c > 0 && ok.nonEmpty => ok.min / c
      }
    }
    val windowFactor =
      if (windowRatios.isEmpty) 1.0
      else windowRatios.sorted.apply(windowRatios.size / 2)
    val groupBreachConfirmedAdj = groupRerun.collect {
      case (k, rerun) if committedGroup.get(k).exists(c =>
        median(rerun) < 0 ||
          median(rerun) > c * 1.5 * math.max(1.0, windowFactor)) => k
    }.toSeq
    val line =
      f"""{"metric":"total","value":${total(results)}%.3f,"unit":"sec","reps":$reps,"n_queries":${benchedNames.size},"n_registered":$nRegistered,"unbenched":$unbenchedJson,"queries":${json(results)},"queries_r7":${json(r7)},"value_r7":${total(r7)}%.3f,"queries_r9":${json(r9)},"value_r9":${total(r9)}%.3f,"queries_r10":${json(r10)},"value_r10":${total(r10)}%.3f,"queries_r11":${json(r11)},"value_r11":${total(r11)}%.3f,"queries_r12":${json(r12)},"value_r12":${total(r12)}%.3f,"queries_r13":${json(r13)},"value_r13":${total(r13)}%.3f,"queries_r14":${json(r14)},"value_r14":${total(r14)}%.3f,"queries_r15":${json(r15)},"value_r15":${total(r15)}%.3f,"queries_r16":${json(r16)},"value_r16":${total(r16)}%.3f,"queries_sweep":${jsonMin(sweep)},"value_sweep":${sweep.map(r => minOf(r._2)).filter(_ >= 0).sum}%.3f,"n_sweep":${sweep.size},"sweep_reps":$sweepReps,"sweep_statistic":"min-of-reps","sweep_tiered":${committedMins.nonEmpty},"sweep_retried":${sweepRetried.map("\"" + _ + "\"").mkString("[", ",", "]")},"group_tiered":${committedGroup.nonEmpty},"group_retried":${groupRerun.keys.map("\"" + _ + "\"").mkString("[", ",", "]")},"group_breach_confirmed":${groupBreachConfirmed.map("\"" + _ + "\"").mkString("[", ",", "]")},"window_factor":$windowFactor%.3f,"group_breach_confirmed_adj":${groupBreachConfirmedAdj.map("\"" + _ + "\"").mkString("[", ",", "]")},"sweep_spread":${spreadJson(sweep)},"spread":$spread,"bpe_train":$bpe,"bpe_train_scale":$bpeScale,"bpe_train_scale1024":$bpeScale1024,"blocked_crossover":$crossover,"scale_soak":$scaleSoak,"soak2":$scaleSoak2,"streaming":$streamingBlock,"failed":$failedJson,"sf":"$sfDir"}"""
    // The driver captures only the last ~2000 chars of sbt's output, and
    // the full line above outgrew that window in round 10 — every BENCH_rNN
    // artifact since has had parsed:null and the driver lost its per-query
    // round-over-round comparison (round-16 verdict item 2). The full line
    // is persisted as a committed repo file; STDOUT gets a COMPACT line —
    // same "metric"/"value"/"unit"/"queries"/"sf" contract, headline
    // per-query medians, all group totals, failure and window diagnostics,
    // but no spreads/sweep/group maps — sized well under the capture
    // window so the driver can parse it again. Path is CWD-RELATIVE, not
    // hardcoded: a Bench run inside an A/B worktree used to clobber the
    // main repo's committed artifact (round 13 lost a reps=3 run to the
    // A/B harness's last reps=1 execution that way).
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // lists in the compact line are CAPPED at 5 names (full lists live in
    // BENCH_FULL.json) so a catastrophic run can't push the line past the
    // ~2000-char window its parser captures, exactly when it matters: at
    // 10 names the saturated line reached about 1.9 KB
    val cap = 5
    def capped(xs: Seq[String]): String =
      (xs.take(cap).map("\"" + _ + "\"") ++
        (if (xs.size > cap) Seq("\"+" + (xs.size - cap) + " more\"")
         else Nil)).mkString("[", ",", "]")
    val compact =
      f"""{"metric":"total","value":${total(results)}%.3f,"unit":"sec","reps":$reps,"n_queries":${benchedNames.size},"n_registered":$nRegistered,"unbenched":${capped(unbenched)},"queries":${json(results)},"value_r7":${total(r7)}%.3f,"value_r9":${total(r9)}%.3f,"value_r10":${total(r10)}%.3f,"value_r11":${total(r11)}%.3f,"value_r12":${total(r12)}%.3f,"value_r13":${total(r13)}%.3f,"value_r14":${total(r14)}%.3f,"value_r15":${total(r15)}%.3f,"value_r16":${total(r16)}%.3f,"value_sweep":${sweep.map(r => minOf(r._2)).filter(_ >= 0).sum}%.3f,"n_sweep":${sweep.size},"window_factor":$windowFactor%.3f,"group_breach_confirmed_adj":${capped(groupBreachConfirmedAdj)},"full_artifact":"BENCH_FULL.json","failed":${capped(failed.toSeq)},"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
