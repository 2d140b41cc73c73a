package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Advanced, Relational, Scalars, Windows}
import graft.streaming.StreamTwins
import graft.text.TextOps
import graft.dedup.Dedup
import graft.vector.VectorOps

/** Driver contract — see /root/repo/SURVEY.md §2.3 for the operator
  * inventory each entry implements.
  *
  * Determinism rules shared by every (query, oracle) pair:
  *  - every query ends in a total-order ORDER BY;
  *  - double aggregates go through exact decimal arithmetic and a final
  *    cast to double (bit-identical cross-engine — see ops/Exact.scala);
  *  - timestamps are emitted as canonical strings;
  *  - engineered integer outputs are BIGINT on both sides (DuckDB's
  *    len/length/rank/sum-of-int natural types are BIGINT/HUGEINT).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- core relational (SURVEY §2.3 Q-*) --
    "q1_pricing" -> (Relational.q1Pricing _),
    "q_scan_project" -> (Relational.qScanProject _),
    "q_cast" -> (Relational.qCast _),
    "q_filter" -> (Relational.qFilter _),
    "q_join_lookup" -> (Relational.qJoinLookup _),
    "q_join_inner" -> (Relational.qJoinInner _),
    "q_join_semi" -> (Relational.qJoinSemi _),
    "q_join_anti" -> (Relational.qJoinAnti _),
    "q_agg" -> (Relational.qAgg _),
    "q_agg_distinct" -> (Relational.qAggDistinct _),
    "q_hll_audit" -> (Relational.qHllAudit _),
    "q_rollup" -> (Relational.qRollup _),
    "q_sort_limit" -> (Relational.qSortLimit _),
    "q_topk_group" -> (Relational.qTopkGroup _),
    "q_topk_agg" -> (Relational.qTopkAgg _),
    "q_setops" -> (Relational.qSetops _),
    "q_distinct" -> (Relational.qDistinct _),
    // -- windows --
    "q_window_rank" -> (Windows.qWindowRank _),
    "q_window_running" -> (Windows.qWindowRunning _),
    "q_window_lag" -> (Windows.qWindowLag _),
    "q_window_range" -> (Windows.qWindowRange _),
    // -- scalar surface + reference cache semantics --
    "q_str" -> (Scalars.qStr _),
    "q_json" -> (Scalars.qJson _),
    "q_date" -> (Scalars.qDate _),
    "q_math" -> (Scalars.qMath _),
    "q_array" -> (Scalars.qArray _),
    "q_cache_key" -> (Scalars.qCacheKey _),
    "q_ttl" -> (Scalars.qTtl _),
    "q_headers" -> (Scalars.qHeaders _),
    // -- streaming batch twins --
    "q_tumble" -> (StreamTwins.qTumble _),
    "q_slide" -> (StreamTwins.qSlide _),
    "q_session" -> (StreamTwins.qSession _),
    "q_state_ttl" -> (StreamTwins.qStateTtl _),
    "q_late" -> (StreamTwins.qLate _),
    "q_revalidate" -> (StreamTwins.qRevalidate _),
    "q_swr_serve" -> (StreamTwins.qSwrServe _),
    "q_dedup_first" -> (StreamTwins.qDedupFirst _),
    "q_stream_restart" -> (graft.streaming.Restart.qStreamRestart _),
    // -- text analysis --
    "q_text_quality" -> (TextOps.qTextQuality _),
    "q_text_stats" -> (TextOps.qTextStats _),
    "q_langid" -> (TextOps.qLangid _),
    "q_term_freq" -> (TextOps.qTermFreq _),
    "q_fingerprint" -> (TextOps.qFingerprint _),
    "q_sample" -> (TextOps.qSample _),
    "q_decontaminate" -> ((s: SparkSession, d: String) => TextOps.qDecontaminate(s, d)),
    // -- dedup --
    "q_minhash_pairs" -> ((s: SparkSession, d: String) => Dedup.qMinhashPairs(s, d)),
    "q_ngram_pairs" -> ((s: SparkSession, d: String) => Dedup.qNgramJaccardPairs(s, d)),
    "q_simhash" -> (Dedup.qSimhash _),
    "q_simhash_pairs" -> (Dedup.qSimhashPairs _),
    "q_dup_clusters" -> ((s: SparkSession, d: String) => Dedup.qDupClusters(s, d)),
    "q_incr_dedup" -> ((s: SparkSession, d: String) => Dedup.qIncrementalDedup(s, d)),
    "q_substring_dup" -> ((s: SparkSession, d: String) => graft.text.SubstringDedup.qSubstringDup(s, d)),
    "q_substr_corpus" -> ((s: SparkSession, d: String) => graft.text.SubstringDedup.qSubstrCorpus(s, d)),
    "q_skew_join" -> ((s: SparkSession, d: String) => graft.ops.Skew.qSkewJoin(s, d)),
    "q_bloom_join" -> (graft.ops.BloomJoin.qBloomJoin _),
    "q_curate" -> (graft.etl.Curate.qCurate _),
    // -- similarity search --
    "q_sim_topk" -> ((s: SparkSession, d: String) => VectorOps.qSimTopk(s, d)),
    "q_sim_lsh" -> ((s: SparkSession, d: String) => VectorOps.qSimTopkLsh(s, d)),
    "q_sim_lsh_mp" -> ((s: SparkSession, d: String) => VectorOps.qSimTopkLshMultiprobe(s, d)),
    "q_sim_ivf" -> ((s: SparkSession, d: String) => VectorOps.qSimIvf(s, d)),
    "q_knn_join" -> ((s: SparkSession, d: String) => VectorOps.qKnnJoin(s, d)),
    // the multi-probe dial as a DECLARED oracle path: P=2 pinned in the
    // query, so the recall lever the r8 clustered study measured has a
    // standing correctness gate
    "q_knn_join_mp" -> ((s: SparkSession, d: String) => VectorOps.qKnnJoinMp(s, d, probes = 2)),
    "q_knn_filtered" -> ((s: SparkSession, d: String) => VectorOps.qKnnFiltered(s, d)),
    "q_knn_filtered_part" -> ((s: SparkSession, d: String) => graft.vector.KnnPart.qKnnFilteredPart(s, d)),
    "q_knn_routed" -> ((s: SparkSession, d: String) => graft.vector.KnnRouter.qKnnRouted(s, d)),
    "q_knn_routed_range" -> ((s: SparkSession, d: String) => graft.vector.KnnRouter.qKnnRoutedRange(s, d)),
    "q_knn_stream" -> ((s: SparkSession, d: String) => graft.vector.KnnIncr.qKnnStream(s, d)),
    // the ANN index MAINTAINED from the ledger change feed (inserts,
    // update pre/post images, DV deletes — three incremental ticks,
    // never a head rebuild); the oracle recomputes the final corpus
    // from scratch, so maintenance drift breaks the hash
    "q_knn_incr" -> ((s: SparkSession, d: String) => graft.vector.KnnIncr.qKnnIncr(s, d)),
    "q_knn_part_incr" -> ((s: SparkSession, d: String) => graft.vector.KnnPart.qKnnPartIncr(s, d)),
    "q_knn_clusters" -> ((s: SparkSession, d: String) => VectorOps.qKnnClusters(s, d)),
    "q_semantic_curate" -> ((s: SparkSession, d: String) => VectorOps.qSemanticCurate(s, d)),
    "q_kmeans" -> ((s: SparkSession, d: String) => VectorOps.qKmeans(s, d)),
    "q_sim_pq" -> ((s: SparkSession, d: String) => VectorOps.qSimPq(s, d)),
    "q_ann_recall" -> ((s: SparkSession, d: String) => VectorOps.qAnnRecall(s, d)),
    "q_sim_pq_refined" -> ((s: SparkSession, d: String) => VectorOps.qSimPqRefined(s, d)),
    "q_sq8" -> ((s: SparkSession, d: String) => VectorOps.qSq8(s, d)),
    "q_tpch3" -> (Relational.qTpch3 _),
    "q_tpch5" -> (Relational.qTpch5 _),
    "q_tpch2" -> (Relational.qTpch2 _),
    "q_tpch4" -> (Relational.qTpch4 _),
    "q_not_exists" -> (Relational.qNotExists _),
    "q_not_in_naaj" -> (Relational.qNotInNaaj _),
    "q_tpch20" -> (Relational.qTpch20 _),
    "q_tpch7" -> (Relational.qTpch7 _),
    "q_tpch10" -> (Relational.qTpch10 _),
    "q_tpch18" -> (Relational.qTpch18 _),
    "q_tpch6" -> (Relational.qTpch6 _),
    "q_tpch8" -> (Relational.qTpch8 _),
    "q_tpch13" -> (Relational.qTpch13 _),
    "q_tpch14" -> (Relational.qTpch14 _),
    "q_tpch15" -> (Relational.qTpch15 _),
    "q_tpch17" -> (Relational.qTpch17 _),
    "q_tpch19" -> (Relational.qTpch19 _),
    "q_tpch22" -> (Relational.qTpch22 _),
    "q_interval_join" -> (Relational.qIntervalJoin _),
    "q_interval_left" -> (Relational.qIntervalLeft _),
    "q_range_join" -> ((s: SparkSession, d: String) => graft.ops.RangeJoin.qRangeJoin(s, d)),
    // -- advanced relational / analytics --
    "q_cube" -> (Advanced.qCube _),
    "q_window_analytics" -> (Advanced.qWindowAnalytics _),
    "q_stats" -> (Advanced.qStats _),
    "q_percentile" -> (Advanced.qPercentile _),
    "q_heavy_hitters" -> ((s: SparkSession, d: String) => Advanced.qHeavyHitters(s, d)),
    "q_grouping_sets" -> (Advanced.qGroupingSets _),
    "q_string_agg" -> (Advanced.qStringAgg _),
    "q_fuzzy" -> (Advanced.qFuzzy _),
    "q_map" -> (Advanced.qMap _),
    "q_ingest_json" -> (Advanced.qIngestJson _),
    "q_pivot" -> (Advanced.qPivot _),
    "q_unpivot" -> (Advanced.qUnpivot _),
    "q_profile" -> (Advanced.qProfile _),
    "q_asof" -> (graft.ops.AsofJoin.qAsof _),
    // -- event-telemetry analytics --
    "q_resample" -> (graft.ops.EventAnalytics.qResample _),
    "q_funnel" -> (graft.ops.EventAnalytics.qFunnel _),
    "q_retention" -> (graft.ops.EventAnalytics.qRetention _),
    "q_scd2" -> (graft.ops.EventAnalytics.qScd2 _),
    // -- fixture-backed surfaces (multimodal + nested; see sources/Fixtures) --
    "q_media" -> (graft.sources.Fixtures.qMedia _),
    "q_media_frames" -> (graft.sources.Fixtures.qMediaFrames _),
    "q_video_frames" -> (graft.sources.Fixtures.qVideoFrames _),
    "q_media_stats" -> (graft.sources.Fixtures.qMediaStats _),
    "q_audio_adpcm" -> (graft.sources.Fixtures.qAudioAdpcm _),
    "q_media_resize" -> (graft.sources.Fixtures.qMediaResize _),
    "q_nestsel" -> (graft.sources.Fixtures.qNestsel _),
    "q_flatten_intent" -> (graft.sources.Fixtures.qFlattenIntent _),
    "q_emb_dup" -> (graft.sources.Fixtures.qEmbDup _),
    "q_emb_clusters" -> (graft.sources.Fixtures.qEmbClusters _),
    "q_media_dedup" -> (graft.sources.Fixtures.qMediaDedup _),
    "q_media_sim" -> ((s: SparkSession, d: String) => graft.sources.Fixtures.qMediaSim(s, d)),
    "q_ingest_csv" -> (graft.sources.Fixtures.qIngestCsv _),
    "q_sink" -> (graft.ops.Sink.qSink _),
    "q_repetition" -> (graft.text.TextOps.qRepetition _),
    "q_redact" -> (graft.text.TextOps.qRedact _),
    "q_histogram" -> ((s: SparkSession, d: String) => graft.text.TextOps.qHistogram(s, d)),
    "q_cooccur" -> ((s: SparkSession, d: String) => graft.text.TextOps.qCooccur(s, d)),
    "q_bigram_lm" -> ((s: SparkSession, d: String) => graft.text.TextOps.qBigramLm(s, d)),
    "q_inverted" -> ((s: SparkSession, d: String) => graft.text.TextOps.qInvertedIndex(s, d)),
    "q_phrase_search" -> ((s: SparkSession, d: String) => graft.text.TextOps.qPhraseSearch(s, d)),
    "q_perplexity" -> ((s: SparkSession, d: String) => graft.text.TextOps.qPerplexity(s, d)),
    "q_cms" -> ((s: SparkSession, d: String) => graft.text.TextOps.qCms(s, d)),
    "q_pagerank" -> ((s: SparkSession, d: String) => graft.vector.VectorOps.qPagerank(s, d)),
    "q_triangles" -> ((s: SparkSession, d: String) => graft.vector.VectorOps.qTriangles(s, d)),
    // -- training-data prep (chunk / pack / mixture / tf-idf) --
    "q_chunk" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qChunk(s, d)),
    "q_pack" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qPack(s, d)),
    "q_mixture" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qMixture(s, d)),
    "q_tfidf" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qTfidf(s, d)),
    "q_stratified" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qStratified(s, d)),
    "q_temperature" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qTemperature(s, d)),
    "q_quality_gate" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qQualityGate(s, d)),
    "q_dist_match" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qDistMatch(s, d)),
    "q_bpe_encode" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qBpeEncode(s, d)),
    "q_chunk_bpe" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qChunkBpe(s, d)),
    "q_pack_bpe" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qPackBpe(s, d)),
    "q_bpe_train" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qBpeTrain(s, d)),
    "q_snapshot_diff" -> ((s: SparkSession, d: String) => graft.etl.Snapshot.qSnapshotDiff(s, d)),
    "q_time_travel" -> (graft.etl.Ledger.qTimeTravel _),
    "q_ledger_changes" -> (graft.etl.Ledger.qLedgerChanges _),
    "q_ledger_stream" -> (graft.etl.Ledger.qLedgerStream _),
    "q_ledger_replicate" -> (graft.etl.Ledger.qLedgerReplicate _),
    "q_ledger_occ" -> (graft.etl.Ledger.qLedgerOcc _),
    "q_ledger_incr_agg" -> (graft.etl.Ledger.qLedgerIncrAgg _),
    "q_ledger_incr_join" -> (graft.etl.Ledger.qLedgerIncrJoin _),
    "q_ledger_wap" -> (graft.etl.Ledger.qLedgerWap _),
    "q_ledger_rebase" -> (graft.etl.Ledger.qLedgerRebase _),
    "q_ledger_constraints" -> (graft.etl.Ledger.qLedgerConstraints _),
    "q_ledger_binpack" -> (graft.etl.Ledger.qLedgerBinpack _),
    "q_ledger_zorder" -> (graft.etl.Ledger.qLedgerZorder _),
    "q_schema_evolution" -> (graft.etl.Ledger.qSchemaEvolution _),
    "q_deletion_vectors" -> (graft.etl.Ledger.qDeletionVectors _),
    "q_ledger_skip" -> (graft.etl.Ledger.qLedgerSkip _),
    "q_shard" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qShard(s, d)),
    "q_shard_write" -> (graft.ops.Sink.qShardWrite _),
    "q_zorder_write" -> (graft.ops.ZOrder.qZorderWrite _),
    // -- CDC maintenance + data cleaning + graph expansion --
    "q_merge_upsert" -> (graft.ops.Cdc.qMergeUpsert _),
    "q_impute" -> (graft.ops.Cleaning.qImpute _),
    "q_outliers" -> (graft.ops.Cleaning.qOutliers _),
    "q_khop" -> ((s: SparkSession, d: String) => graft.vector.VectorOps.qKhop(s, d)),
    "q_incr_agg" -> (graft.ops.Cdc.qIncrAgg _),
    "q_leakage_split" -> ((s: SparkSession, d: String) => Dedup.qLeakageSplit(s, d)),
    "q_concurrency" -> (graft.ops.EventAnalytics.qConcurrency _),
    "q_feature_hash" -> ((s: SparkSession, d: String) => graft.text.TrainPrep.qFeatureHash(s, d)),
    // -- grouped statistics, data contracts, contrastive mining --
    "q_ols" -> (graft.ops.MlStats.qOls _),
    "q_chisq" -> (graft.ops.MlStats.qChisq _),
    "q_quantile_sketch" -> (graft.ops.MlStats.qQuantileSketch _),
    "q_expectations" -> (graft.ops.Contracts.qExpectations _),
    "q_hard_negatives" -> ((s: SparkSession, d: String) => graft.vector.VectorOps.qHardNegatives(s, d)),
    "q_top_p" -> (graft.text.TrainPrep.qTopP _),
    "q_curriculum" -> (graft.text.TrainPrep.qCurriculum _),
    "q_attribution" -> (graft.ops.EventAnalytics.qAttribution _),
    "q_ewma" -> (graft.ops.EventAnalytics.qEwma _),
    "q_zscore" -> (graft.ops.MlStats.qZscore _),
    "q_mmr" -> ((s: SparkSession, d: String) => graft.vector.VectorOps.qMmr(s, d)),
    "q_bucket_join" -> (graft.ops.Sink.qBucketJoin _),
    "q_compact" -> (graft.ops.Sink.qCompact _),
    "q_drift" -> (graft.ops.MlStats.qDrift _),
    "q_ab_test" -> (graft.ops.MlStats.qAbTest _),
    "q_bm25" -> (graft.text.Retrieval.qBm25 _),
    "q_rank_fusion" -> (graft.text.Retrieval.qRankFusion _),
    "q_ndcg" -> ((s: SparkSession, d: String) => graft.vector.RetrievalEval.qNdcg(s, d)),
    "q_maxsim" -> ((s: SparkSession, d: String) => graft.vector.RetrievalEval.qMaxsim(s, d)),
    "q_corr" -> (graft.ops.MlStats.qCorr _),
    "q_forget" -> (graft.ops.Cdc.qForget _),
    "q_kanon" -> ((s: SparkSession, d: String) => graft.ops.Contracts.qKanon(s, d)),
    "q_ingest_orc" -> (graft.ops.Advanced.qIngestOrc _),
    "q_ooo" -> (graft.ops.EventAnalytics.qOoo _),
    "q_dataset_card" -> (graft.text.TrainPrep.qDatasetCard _),
  )

  // Shared SQL fragments for the oracle side.
  private val sumQty = "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)"

  /** BM25 posting CTEs shared by q_bm25 / q_rank_fusion — mirrors
    * text.Retrieval.postings (same query-term literals). */
  private val bmPostingsCte: String = {
    val terms = graft.text.Retrieval.queryTerms.map(t => s"'$t'").mkString(", ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ($terms) GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)""".stripMargin
  }

  /** Scaled-integer BM25 partial score — token-for-token the double
    * dag text.Retrieval.bm25U builds (k1=1.2, b=0.75). */
  private val bm25USql: String =
    """CAST(floor(1e6 * (ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(dfr.df AS DOUBLE) + 0.5)
      |  / (CAST(dfr.df AS DOUBLE) + 0.5))
      |  * (CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE)
      |    + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
      |      / (CAST(st.sdl AS DOUBLE) / CAST(st.n AS DOUBLE))))))) + 0.5) AS BIGINT)""".stripMargin

  /** Scaled-integer TF-IDF partial score (text.Retrieval.tfidfU). */
  private val tfidfUSql: String =
    """CAST(floor(1e6 * (CAST(tf.tf AS DOUBLE)
      |  * ln(CAST(st.n AS DOUBLE) / CAST(dfr.df AS DOUBLE))) + 0.5) AS BIGINT)""".stripMargin

  /** q_corr oracle: built from the same (name, decimal-type) variable
    * list ops.MlStats.qCorr aggregates, so the 14 sufficient sums and
    * the 6 correlation dags stay mirrored by construction. */
  private val corrSql: String = {
    val vars = Seq(
      "quantity" -> "CAST(l_quantity AS DECIMAL(18,2))",
      "extendedprice" -> "CAST(l_extendedprice AS DECIMAL(12,2))",
      "discount" -> "CAST(l_discount AS DECIMAL(18,2))",
      "tax" -> "CAST(l_tax AS DECIMAL(18,2))")
    def d2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    val sums =
      vars.map { case (n, c) => s"${d2d(s"sum($c)")} AS s_$n" } ++
      vars.map { case (n, c) => s"${d2d(s"sum($c * $c)")} AS ss_$n" } ++
      vars.combinations(2).toSeq.map { case Seq((nx, cx), (ny, cy)) =>
        s"${d2d(s"sum($cx * $cy)")} AS sp_${nx}_$ny"
      }
    val branches = vars.map(_._1).combinations(2).toSeq.map { case Seq(x, y) =>
      s"""SELECT '${x}_$y' AS pair, n,
         |  (n*sp_${x}_$y - s_$x*s_$y)
         |    / sqrt((n*ss_$x - s_$x*s_$x) * (n*ss_$y - s_$y*s_$y)) AS corr FROM s""".stripMargin
    }
    s"""WITH s AS (SELECT count(*) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM lineitem)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY pair""".stripMargin
  }
  private val revenueExpr =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))"
  private val shCte =
    """d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents WHERE len(string_split(text,' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
      |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d)""".stripMargin

  /** 16-bit SimHash as a DuckDB expression over a per-token md5 list
    * column — mirrors dedup.Dedup.simhash16 bit for bit. */
  private def simhashSql(hs: String): String =
    (0 until 16).map { b =>
      s"CASE WHEN 2*list_sum(list_transform($hs, h -> (strpos('0123456789abcdef', h[${b + 1}:${b + 1}]) - 1) % 2)) > len($hs) THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** 64-bit SimHash as a DuckDB expression over a per-token md5 list
    * column — mirrors dedup.Dedup.simhash64 / functions.Simhash64 bit
    * for bit: bit b = majority of bit (b div 16) of hex digit
    * (b mod 16). Bit 63's weight is written as (-q-1) because the
    * INT64-min literal doesn't parse as a unit. */
  private def simhash64Sql(hs: String): String =
    (0 until 64).map { b =>
      val p = b % 16
      val k = b / 16
      val w = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN 2*list_sum(list_transform($hs, h -> ((strpos('0123456789abcdef', h[${p + 1}:${p + 1}]) - 1) >> $k) & 1)) > len($hs) THEN $w ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Sign-LSH bucket id over a DOUBLE[] column — same ±1 hyperplane
    * literals the Spark plan embeds (vector.VectorOps.hyperplanes). */
  private def lshBucketSqlFor(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (r, p) =>
      val arr = r.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(range(1, 65), i -> $v[i] * (CAST($arr AS DOUBLE[]))[i])) >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private def lshBucketSql(v: String): String =
    lshBucketSqlFor(v, graft.vector.VectorOps.hyperplanes(4, 64))

  /** Per-plane dot-product SQL fragments (same ±1 literals as the
    * Spark plan) — used by the multi-probe oracle's margin argmin. */
  private lazy val planeDotsSql: Seq[String] =
    graft.vector.VectorOps.hyperplanes(4, 64).map { r =>
      val arr = r.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"list_sum(list_transform(range(1, 65), i -> v[i] * (CAST($arr AS DOUBLE[]))[i]))"
    }

  /** Dial-aware q_knn_join oracle SQL for SCALED corpora: mirrors the
    * occupancy-adaptive trie bucketing [[graft.vector.VectorOps
    * .qKnnJoin]] uses above oracle scale — per-depth occupancy CTEs,
    * the monotone min-depth leaf rule (first depth whose prefix cell
    * holds ≤ cap vectors), trie-encoded keys, and the one-flip
    * multi-probe exploded across every depth (prefix-freeness of the
    * leaf set admits at most one match). The static
    * `oracleSql("q_knn_join")` entry stays the flat 4-plane chain
    * every gate corpus lands on; THIS generator exists for the sfN
    * spot-check harness (tools/spot_check) — pass the corpus'
    * embedding count. At gate-scale n it emits the same flat 4-plane
    * semantics, which the harness can verify by hash-matching sf0.01
    * with the generated SQL too. */
  def knnJoinOracleSqlFor(n: Long): String = knnJoinOracleSqlFor(n, 1)

  /** `probes > 1`: the multi-probe generalization for q_knn_join_mp's
    * scaled spot-checks — the per-`ld` argmin CASE chain becomes a
    * rank relation (rank planes 1..ld by (|margin|, index) ascending,
    * probe the P lowest), each probe resolved to its unique trie leaf
    * and deduped per (vec_id, leaf), mirroring [[graft.vector
    * .VectorOps.qKnnJoinMp]] clause for clause. */
  def knnJoinOracleSqlFor(n: Long, probes: Int): String =
    knnJoinOracleSqlFor(n, probes,
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")

  /** `eCtes` variant: the corpus CTE chain (ending in
    * `e(vec_id, v)`) is caller-supplied, so lineage-transformed
    * corpora (q_knn_incr's final head) get the same dial-aware trie
    * SQL as the raw table. `n` remains the DIAL-SETTING count — for
    * the maintained index that is the BOOTSTRAP corpus size (the dial
    * is an index-creation parameter; occupancies derive from `e`). */
  def knnJoinOracleSqlFor(n: Long, probes: Int, eCtes: String): String = {
    val (p0, maxD) = graft.vector.VectorOps.knnDialFor(n)
    val cap = graft.vector.VectorOps.KnnCapOcc
    val planes = graft.vector.VectorOps.hyperplanes(maxD, 64)
    val dotCols = planes.zipWithIndex.map { case (r, i) =>
      val arr = r.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"list_sum(list_transform(range(1, 65), i -> v[i] * (CAST($arr AS DOUBLE[]))[i])) AS d${i + 1}"
    }.mkString(",\n  ")
    val fullExpr = (0 until maxD)
      .map(i => s"CASE WHEN d${i + 1} >= 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")
    // first-global-minimum |margin| argmin over planes 1..m → flip bit
    def argminChain(m: Int): String = {
      val whens = (0 until m - 1).map { i =>
        val conds = ((i + 1) until m).map(j => s"abs(d${i + 1}) <= abs(d${j + 1})")
        s"WHEN ${conds.mkString(" AND ")} THEN ${1L << i}"
      }
      s"CASE ${whens.mkString(" ")} ELSE ${1L << (m - 1)} END"
    }
    def mask(d: Int) = (1L << d) - 1
    // rank relation for multi-probe: planes 1..ld ranked by
    // (|margin|, index) ascending — `ldCol` names the usable-plane
    // bound of the emitting CTE (the literal p0 at the flat dial)
    def rankCtes(src: String, ldCol: String): String = {
      val unions = (0 until maxD).map { i =>
        val head = if (i == 0)
          s"SELECT vec_id, ${1L << i} AS bit, abs(d${i + 1}) AS a, ${i + 1} AS pidx"
        else s"SELECT vec_id, ${1L << i}, abs(d${i + 1}), ${i + 1}"
        s"$head FROM $src WHERE ${i + 1} <= $ldCol"
      }.mkString("\n  UNION ALL ")
      s"""mg AS ($unions),
         |fr AS (SELECT vec_id, bit, row_number() OVER (PARTITION BY vec_id ORDER BY a, pidx) AS rnk FROM mg)""".stripMargin
    }
    if (p0 == maxD) {
      if (probes == 1)
        // flat gate chain (bucket = the p0-bit code, probe = flipped code)
        s"""WITH $eCtes,
           |dk AS (SELECT vec_id, v,
           |  $dotCols FROM e),
           |bk AS (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
           |fl AS (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
           |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
           |  b AS bucket, ${argminChain(p0)} AS flip FROM bk),
           |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
           |  UNION ALL SELECT vec_id, va, nv, xor(bucket, flip) AS bucket FROM fl),
           |p AS (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
           |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id),
           |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
           |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
      else
        // flat multi-probe: P distinct single-bit flips, no resolution
        s"""WITH $eCtes,
           |dk AS (SELECT vec_id, v,
           |  $dotCols FROM e),
           |bk AS (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
           |fl AS (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
           |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
           |  b AS bucket, ${(1 to maxD).map(i => s"d$i").mkString(", ")} FROM bk),
           |${rankCtes("fl", p0.toString)},
           |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
           |  UNION ALL SELECT fl.vec_id, fl.va, fl.nv, xor(fl.bucket, fr.bit) FROM fl
           |    JOIN fr ON fl.vec_id = fr.vec_id AND fr.rnk <= $probes),
           |p AS (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
           |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id),
           |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
           |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
    }
    else {
      val occCtes = (p0 until maxD).map { d =>
        s"occ$d AS (SELECT b & ${mask(d)} AS p, count(*) AS o FROM bk GROUP BY 1)"
      }.mkString(",\n")
      val occJoins = (p0 until maxD).map { d =>
        s"JOIN occ$d t$d ON (bk.b & ${mask(d)}) = t$d.p"
      }.mkString("\n  ")
      val ldExpr = (p0 until maxD).map { d =>
        s"WHEN t$d.o <= $cap THEN $d"
      }.mkString("CASE ", " ", s" ELSE $maxD END")
      val bucketExpr = (p0 to maxD).map { d =>
        s"WHEN $d THEN (b & ${mask(d)}) | ${1L << d}"
      }.mkString("CASE ld ", " ", " END")
      val flipExpr = (p0 to maxD).map { d =>
        s"WHEN $d THEN ${argminChain(d)}"
      }.mkString("CASE ld ", " ", " END")
      val probeList = (p0 to maxD).map { d =>
        s"(xor(b, flip) & ${mask(d)}) | ${1L << d}"
      }.mkString("[", ", ", "]")
      if (probes == 1)
        s"""WITH $eCtes,
           |dk AS (SELECT vec_id, v,
           |  $dotCols FROM e),
           |bk AS (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
           |$occCtes,
           |ld AS (SELECT bk.*, $ldExpr AS ld
           |  FROM bk
           |  $occJoins),
           |fl AS (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
           |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
           |  b, ld, $bucketExpr AS bucket, $flipExpr AS flip FROM ld),
           |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
           |  UNION ALL SELECT vec_id, va, nv, unnest($probeList) AS bucket FROM fl),
           |p AS (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
           |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id),
           |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
           |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
      else {
        // multi-probe trie: rank usable planes per vector, probe the P
        // lowest, resolve each flipped code to its unique trie leaf by
        // unnesting its prefix chain (non-leaf keys match no bucket),
        // DISTINCT per (vec_id, key) — two flips can share a leaf
        // ancestor and a duplicate bucket would double-count candidates
        val pbList = (p0 to maxD).map { d =>
          s"(pb & ${mask(d)}) | ${1L << d}"
        }.mkString("[", ", ", "]")
        // the rank relation references `fl` from every one of its maxD
        // union arms — without MATERIALIZED hints DuckDB re-inlines
        // fl's occupancy joins + plane dots per reference and the plan
        // blows up combinatorially (observed: 10+ CPU-hours at sf1 vs
        // minutes materialized)
        s"""WITH $eCtes,
           |dk AS (SELECT vec_id, v,
           |  $dotCols FROM e),
           |bk AS MATERIALIZED (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
           |$occCtes,
           |ld AS (SELECT bk.*, $ldExpr AS ld
           |  FROM bk
           |  $occJoins),
           |fl AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
           |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
           |  b, ld, ${(1 to maxD).map(i => s"d$i").mkString(", ")},
           |  $bucketExpr AS bucket FROM ld),
           |${rankCtes("fl", "ld")},
           |pc AS (SELECT fl.vec_id, xor(fl.b, fr.bit) AS pb FROM fl
           |  JOIN fr ON fl.vec_id = fr.vec_id AND fr.rnk <= $probes),
           |pcand AS (SELECT vec_id, unnest($pbList) AS bucket FROM pc),
           |pdist AS MATERIALIZED (SELECT DISTINCT vec_id, bucket FROM pcand),
           |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
           |  UNION ALL SELECT fl.vec_id, fl.va, fl.nv, pdist.bucket FROM fl
           |    JOIN pdist ON fl.vec_id = pdist.vec_id),
           |p AS (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
           |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id),
           |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
           |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
      }
    }
  }

  /** Dial-aware q_knn_incr oracle SQL: the lineage-transformed FINAL
    * corpus (survivors of the %17==3 delete with the %11==0 reversals,
    * plus the negated %13==0 clones at +100000) pushed through the
    * same single-flip trie chain. `nBootstrap` sets the dial exactly
    * as the maintained index's creation did (the dial is an
    * index-creation parameter — the v0 corpus count); occupancies and
    * leaf depths derive from the FINAL corpus, mirroring the
    * maintained histogram. */
  def knnIncrOracleSqlFor(nBootstrap: Long): String =
    knnJoinOracleSqlFor(nBootstrap, 1,
      """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
        |e AS (SELECT vec_id, CASE WHEN vec_id % 11 = 0 THEN list_reverse(v0) ELSE v0 END AS v
        |        FROM base WHERE vec_id % 17 <> 3
        |      UNION ALL
        |      SELECT vec_id + (SELECT max(vec_id) + 1 FROM base) AS vec_id, list_transform(v0, x -> -x) AS v
        |        FROM base WHERE vec_id % 13 = 0)""".stripMargin)

  /** Dial-aware q_knn_filtered oracle SQL for scaled spot-checks:
    * the single-flip probe chain with the `label = 7` predicate on
    * the CANDIDATE side, the count-≥-k served/escalated split, and
    * the exact-over-filtered-corpus escalation arm — mirroring
    * [[graft.vector.VectorOps.qKnnFiltered]] clause for clause at
    * either dial (the static oracle entry carries the flat gate
    * chain; this generator exists for ScaleGen corpora where the
    * occupancy-adaptive trie opens). */
  def knnFilteredOracleSqlFor(n: Long): String =
    knnFilteredOracleSqlFor(n, a => s"$a.label = 7", "embeddings")

  /** Predicate- and source-parameterized variant (the routed query's
    * shared-arm branch): `predSql(alias)` renders the predicate against
    * a CTE alias carrying `(vec_id, label, …)` — e.g.
    * `fl.vec_id % 2 = 0`; `srcSql` names the corpus relation (a table
    * or a `read_parquet(...)` over a fixture). */
  def knnFilteredOracleSqlFor(n: Long, predSql: String => String,
      srcSql: String): String = {
    val (p0, maxD) = graft.vector.VectorOps.knnDialFor(n)
    val cap = graft.vector.VectorOps.KnnCapOcc
    val planes = graft.vector.VectorOps.hyperplanes(maxD, 64)
    val dotCols = planes.zipWithIndex.map { case (r, i) =>
      val arr = r.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"list_sum(list_transform(range(1, 65), i -> v[i] * (CAST($arr AS DOUBLE[]))[i])) AS d${i + 1}"
    }.mkString(",\n  ")
    val fullExpr = (0 until maxD)
      .map(i => s"CASE WHEN d${i + 1} >= 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")
    def argminChain(m: Int): String = {
      val whens = (0 until m - 1).map { i =>
        val conds = ((i + 1) until m).map(j => s"abs(d${i + 1}) <= abs(d${j + 1})")
        s"WHEN ${conds.mkString(" AND ")} THEN ${1L << i}"
      }
      s"CASE ${whens.mkString(" ")} ELSE ${1L << (m - 1)} END"
    }
    def mask(d: Int) = (1L << d) - 1
    // shared tail: candidates post-filtered in `pf`, the ≥3 split in
    // `ok`, escalated queries re-ranked EXACT over the filtered corpus.
    // fl is referenced from five CTEs — MATERIALIZED or DuckDB
    // re-inlines the plane dots per reference (the mp-oracle lesson).
    val arms =
      s"""pf AS MATERIALIZED (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
         |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id AND ${predSql("fl")}),
         |ok AS MATERIALIZED (SELECT q_id FROM pf GROUP BY q_id HAVING count(*) >= 3),
         |r AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM pf WHERE q_id IN (SELECT q_id FROM ok)),
         |sh AS (SELECT vec_id AS q_id, va AS qva, nv AS nq FROM fl
         |  WHERE vec_id NOT IN (SELECT q_id FROM ok)),
         |ex AS (SELECT sh.q_id, c.vec_id,
         |  array_inner_product(sh.qva, c.va) / (sh.nq * c.nv) AS sim
         |  FROM sh JOIN fl c ON ${predSql("c")} AND c.vec_id <> sh.q_id),
         |xr AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM ex)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3
         |UNION ALL SELECT q_id, rn, vec_id, sim FROM xr WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin
    if (p0 == maxD)
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $srcSql),
         |dk AS (SELECT vec_id, label, v,
         |  $dotCols FROM e),
         |bk AS (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
         |fl AS MATERIALIZED (SELECT vec_id, label, CAST(v AS DOUBLE[64]) AS va,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
         |  b AS bucket, ${argminChain(p0)} AS flip FROM bk),
         |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
         |  UNION ALL SELECT vec_id, va, nv, xor(bucket, flip) AS bucket FROM fl),
         |$arms""".stripMargin
    else {
      val occCtes = (p0 until maxD).map { d =>
        s"occ$d AS (SELECT b & ${mask(d)} AS p, count(*) AS o FROM bk GROUP BY 1)"
      }.mkString(",\n")
      val occJoins = (p0 until maxD).map { d =>
        s"JOIN occ$d t$d ON (bk.b & ${mask(d)}) = t$d.p"
      }.mkString("\n  ")
      val ldExpr = (p0 until maxD).map { d =>
        s"WHEN t$d.o <= $cap THEN $d"
      }.mkString("CASE ", " ", s" ELSE $maxD END")
      val bucketExpr = (p0 to maxD).map { d =>
        s"WHEN $d THEN (b & ${mask(d)}) | ${1L << d}"
      }.mkString("CASE ld ", " ", " END")
      val flipExpr = (p0 to maxD).map { d =>
        s"WHEN $d THEN ${argminChain(d)}"
      }.mkString("CASE ld ", " ", " END")
      val probeList = (p0 to maxD).map { d =>
        s"(xor(b, flip) & ${mask(d)}) | ${1L << d}"
      }.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $srcSql),
         |dk AS (SELECT vec_id, label, v,
         |  $dotCols FROM e),
         |bk AS MATERIALIZED (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
         |$occCtes,
         |ld AS (SELECT bk.*, $ldExpr AS ld
         |  FROM bk
         |  $occJoins),
         |fl AS MATERIALIZED (SELECT vec_id, label, CAST(v AS DOUBLE[64]) AS va,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
         |  b, ld, $bucketExpr AS bucket, $flipExpr AS flip FROM ld),
         |q AS (SELECT vec_id AS q_id, va AS qva, nv AS nq, bucket FROM fl
         |  UNION ALL SELECT vec_id, va, nv, unnest($probeList) AS bucket FROM fl),
         |$arms""".stripMargin
    }
  }

  /** Dial-aware q_knn_filtered_part oracle SQL: the PARTITIONED
    * filtered-ANN chain — the trie (occupancies, leaf depths, bucket
    * keys) is built over ONLY the `label = 7` rows under a dial derived
    * from the PARTITION count `nF`, and every corpus vector resolves
    * its own + flip probe leaves by joining its code's prefix chain
    * against the partition's leaf-key set — mirroring
    * [[graft.vector.KnnPart.knnFilteredPartitioned]] clause for clause.
    * The flat arm (nF ≤ oracle scale) is the static gate entry; the
    * trie arm serves ScaleGen corpora whose partition opens the
    * adaptive dial. */
  def knnFilteredPartOracleSqlFor(nF: Long): String =
    knnFilteredPartOracleSqlFor(nF, "embeddings")

  /** Source-parameterized variant — `srcSql` names the corpus relation
    * (a table, or `read_parquet(...)` over the router fixture). */
  def knnFilteredPartOracleSqlFor(nF: Long, srcSql: String): String = {
    val (p0, maxD) = graft.vector.VectorOps.knnDialFor(nF)
    val cap = graft.vector.VectorOps.KnnCapOcc
    val planes = graft.vector.VectorOps.hyperplanes(maxD, 64)
    val dotCols = planes.zipWithIndex.map { case (r, i) =>
      val arr = r.map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
      s"list_sum(list_transform(range(1, 65), i -> v[i] * (CAST($arr AS DOUBLE[]))[i])) AS d${i + 1}"
    }.mkString(",\n  ")
    val fullExpr = (0 until maxD)
      .map(i => s"CASE WHEN d${i + 1} >= 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")
    def argminChain(m: Int): String = {
      val whens = (0 until m - 1).map { i =>
        val conds = ((i + 1) until m).map(j => s"abs(d${i + 1}) <= abs(d${j + 1})")
        s"WHEN ${conds.mkString(" AND ")} THEN ${1L << i}"
      }
      s"CASE ${whens.mkString(" ")} ELSE ${1L << (m - 1)} END"
    }
    def mask(d: Int) = (1L << d) - 1
    // shared tail: candidates from the partition (fl) by probed bucket,
    // the ≥3 served split, escalated queries (drawn from ALL vectors,
    // qa) re-ranked EXACT over the partition
    val arms =
      s"""pf AS MATERIALIZED (SELECT q_id, fl.vec_id, array_inner_product(qva, fl.va) / (nq * fl.nv) AS sim
         |  FROM fl JOIN q USING (bucket) WHERE fl.vec_id <> q.q_id),
         |ok AS MATERIALIZED (SELECT q_id FROM pf GROUP BY q_id HAVING count(*) >= 3),
         |r AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM pf WHERE q_id IN (SELECT q_id FROM ok)),
         |sh AS (SELECT q_id, qva, nq FROM qa
         |  WHERE q_id NOT IN (SELECT q_id FROM ok)),
         |ex AS (SELECT sh.q_id, c.vec_id,
         |  array_inner_product(sh.qva, c.va) / (sh.nq * c.nv) AS sim
         |  FROM sh JOIN fl c ON c.vec_id <> sh.q_id),
         |xr AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM ex)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3
         |UNION ALL SELECT q_id, rn, vec_id, sim FROM xr WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin
    if (p0 == maxD)
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $srcSql),
         |dk AS (SELECT vec_id, label, v,
         |  $dotCols FROM e),
         |bk AS MATERIALIZED (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
         |fl AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv, b AS bucket
         |  FROM bk WHERE label = 7),
         |qa AS MATERIALIZED (SELECT vec_id AS q_id, CAST(v AS DOUBLE[64]) AS qva,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nq,
         |  b AS bucket, ${argminChain(p0)} AS flip FROM bk),
         |q AS (SELECT q_id, qva, nq, bucket FROM qa
         |  UNION ALL SELECT q_id, qva, nq, xor(bucket, flip) AS bucket FROM qa),
         |$arms""".stripMargin
    else {
      val occCtes = (p0 until maxD).map { d =>
        s"occ$d AS (SELECT b & ${mask(d)} AS p, count(*) AS o FROM pb GROUP BY 1)"
      }.mkString(",\n")
      val occJoins = (p0 until maxD).map { d =>
        s"LEFT JOIN occ$d t$d ON (pb.b & ${mask(d)}) = t$d.p"
      }.mkString("\n  ")
      val ldExpr = (p0 until maxD).map { d =>
        s"WHEN t$d.o <= $cap THEN $d"
      }.mkString("CASE ", " ", s" ELSE $maxD END")
      val bucketExpr = (p0 to maxD).map { d =>
        s"WHEN $d THEN (b & ${mask(d)}) | ${1L << d}"
      }.mkString("CASE ld ", " ", " END")
      val dots = (1 to maxD).map(i => s"d$i").mkString(", ")
      val chain = (p0 to maxD).map(d => s"(b & ${mask(d)}) | ${1L << d}")
        .mkString("[", ", ", "]")
      val fchain = (p0 to maxD).map(d => s"(xor(b, flip) & ${mask(d)}) | ${1L << d}")
        .mkString("[", ", ", "]")
      val ldOfKey = (p0 to maxD).reverse.map(d => s"WHEN bucket >= ${1L << d} THEN $d")
        .mkString("CASE ", " ", " END")
      val flipExpr = (p0 to maxD).map(d => s"WHEN $d THEN ${argminChain(d)}")
        .mkString("CASE ld ", " ", " END")
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM $srcSql),
         |dk AS (SELECT vec_id, label, v,
         |  $dotCols FROM e),
         |bk AS MATERIALIZED (SELECT *, CAST($fullExpr AS BIGINT) AS b FROM dk),
         |pb AS MATERIALIZED (SELECT * FROM bk WHERE label = 7),
         |$occCtes,
         |pld AS (SELECT pb.*, $ldExpr AS ld
         |  FROM pb
         |  $occJoins),
         |fl AS MATERIALIZED (SELECT vec_id, CAST(v AS DOUBLE[64]) AS va,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nv,
         |  $bucketExpr AS bucket FROM pld),
         |leaf AS MATERIALIZED (SELECT DISTINCT bucket FROM fl),
         |qa AS MATERIALIZED (SELECT vec_id AS q_id, CAST(v AS DOUBLE[64]) AS qva,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nq, b,
         |  $dots FROM bk),
         |och AS (SELECT q_id, unnest($chain) AS cand FROM qa),
         |own AS (SELECT q_id, cand AS bucket FROM och JOIN leaf ON och.cand = leaf.bucket),
         |owd AS (SELECT q_id, bucket, $ldOfKey AS ld FROM own),
         |ofq AS (SELECT owd.q_id, $flipExpr AS flip, qa.b
         |  FROM owd JOIN qa USING (q_id)),
         |fch AS (SELECT q_id, unnest($fchain) AS cand FROM ofq),
         |fres AS (SELECT q_id, cand AS bucket FROM fch JOIN leaf ON fch.cand = leaf.bucket),
         |pq AS (SELECT q_id, bucket FROM own UNION ALL SELECT q_id, bucket FROM fres),
         |q AS (SELECT pq.q_id, qa.qva, qa.nq, pq.bucket FROM pq JOIN qa USING (q_id)),
         |$arms""".stripMargin
    }
  }

  /** Dial-aware q_knn_part_incr oracle SQL: the lineage-transformed
    * FINAL corpus — survivors of the %17==3 delete with the %11==0
    * reversals AND the %19==0 label shifts to (label+1) % 10, plus the
    * label-kept negated %13==0 clones at +100000 — pushed through the
    * PARTITION-trie chain (label = 7 candidates, every head row a
    * query). `nF` sets the dial exactly as the maintained partition
    * index's creation did (the v0 label-7 count); occupancies and leaf
    * depths derive from the FINAL partition, mirroring the maintained
    * histogram. */
  def knnPartIncrOracleSqlFor(nF: Long): String =
    knnFilteredPartOracleSqlFor(nF,
      """(SELECT vec_id,
        |   CASE WHEN vec_id % 19 = 0 THEN (label + 1) % 10 ELSE label END AS label,
        |   CASE WHEN vec_id % 11 = 0 THEN list_reverse(embedding) ELSE embedding END AS embedding
        | FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
        | WHERE vec_id % 17 <> 3
        | UNION ALL
        | SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id, label, list_transform(embedding, x -> -x) AS embedding
        | FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
        | WHERE vec_id % 13 = 0)""".stripMargin)

  /** q_knn_routed oracle SQL — over the ROUTER FIXTURE (12000 rows,
    * label-7 = a tight 2400-member cluster; see
    * [[graft.vector.KnnRouter.fixtureDir]]), so it is one STATIC text
    * at every corpus scale. Branch `label7` embeds the PARTITION-trie
    * chain (dial (4,12) from nF = 2400) — the arm the router provably
    * picks for the decisively correlated shape; branch `par0` embeds
    * the SHARED-trie chain (dial (6,14) from n = 12000) under
    * `vec_id % 2 = 0` — the uncorrelated shape that stays shared. The
    * dials diverge, so a mis-routed arm breaks this hash at the gate
    * corpus itself; KnnRouterSpec pins the decisions against the
    * measured splits. */
  def knnRoutedOracleSql: String = {
    val src = s"read_parquet('${graft.vector.KnnRouter.fixturePath}" +
      "/embeddings.parquet/*.parquet')"
    val b1 = knnFilteredPartOracleSqlFor(2400, src)
    val b2 = knnFilteredOracleSqlFor(12000, a => s"$a.vec_id % 2 = 0", src)
    s"""SELECT 'label7' AS pred, q_id, rn, vec_id, sim FROM ($b1)
       |UNION ALL
       |SELECT 'par0' AS pred, q_id, rn, vec_id, sim FROM ($b2)
       |ORDER BY pred, q_id, rn""".stripMargin
  }

  /** q_knn_routed_range oracle SQL — the GENERIC-predicate routed query
    * ([[graft.vector.KnnRouter.qKnnRoutedRange]]): `label BETWEEN 3 AND
    * 5` is no partition-key equality, so the router's fallback serves
    * the SHARED arm, and the oracle is the shared-trie chain (fixture
    * dial (6, 14)) under the range predicate. */
  def knnRoutedRangeOracleSql: String = {
    val src = s"read_parquet('${graft.vector.KnnRouter.fixturePath}" +
      "/embeddings.parquet/*.parquet')"
    knnFilteredOracleSqlFor(12000, a => s"$a.label BETWEEN 3 AND 5", src)
  }

  /** Scaled-integer mean of a computed double — mirrors
    * `Exact.scaledMean` (same multiply, integer round, sum, and
    * division order; see its scaladoc for why double→DECIMAL casts
    * are not cross-engine identical at rounding boundaries). */
  private def scaledMeanSql(x: String): String =
    s"CAST(sum(CAST(round($x * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0 / count(*)"

  /** PQ oracle fragments: per-subspace squared distance (dims 8s+1..
    * 8s+8, sequential fold) and the 8-way code/lookup join chain. */
  private def pqSubDistSql(s: Int): String =
    s"list_sum(list_transform(range(${1 + 8 * s}, ${9 + 8 * s}), i -> (v[i]-cv[i])*(v[i]-cv[i])))"

  /** Shared seed CTEs: corpus + exact-decimal per-label centroids. */
  private lazy val pqSeedCtesSql: String =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (SELECT label, ii.i - 1 AS pos, v[ii.i] AS x
       |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii),
       |cm AS (SELECT label, pos,
       |  ${scaledMeanSql("x")} AS m
       |  FROM ex GROUP BY 1, 2),
       |cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS cv FROM cm GROUP BY label)""".stripMargin

  /** Encode + ADC rank chain against centroid CTE `centName`. */
  private def pqRankChainSql(centName: String): String =
    s"""dists AS (SELECT vec_id, c_label,
       |  ${(0 until 8).map(s => s"${pqSubDistSql(s)} AS d$s").mkString(", ")}
       |  FROM e, $centName),
       |codes AS (SELECT vec_id,
       |  ${(0 until 8).map(s => s"first(c_label ORDER BY d$s, c_label) AS code$s").mkString(", ")}
       |  FROM dists GROUP BY vec_id),
       |qd AS (SELECT vec_id AS q_id, c_label,
       |  ${(0 until 8).map(s => s"d$s").mkString(", ")}
       |  FROM dists WHERE vec_id < 5),
       |score AS (SELECT t0.q_id, x.vec_id,
       |  ${(0 until 8).map(s => s"t$s.d$s").mkString(" + ")} AS score
       |  FROM codes x
       |  ${(0 until 8).map(s => s"JOIN qd t$s ON t$s.c_label = x.code$s" +
            (if (s > 0) s" AND t$s.q_id = t0.q_id" else "")).mkString("\n  ")}),
       |r AS (SELECT q_id, vec_id, score,
       |  row_number() OVER (PARTITION BY q_id ORDER BY score, vec_id) AS rn
       |  FROM score WHERE vec_id <> q_id)""".stripMargin

  /** One Lloyd round of per-subspace codebook refinement, mirrored
    * from VectorOps.refinePqCodebooks: each subspace re-assigns on the
    * SEED slice (step s only rewrites slice s, so refinements are
    * independent), sub-means go through DECIMAL(18,9), and labels that
    * win no vectors keep their seed slice. */
  private lazy val pqRefineCtesSql: String = {
    val perSub = (0 until 8).map { s =>
      s"""asg$s AS (SELECT vec_id, first(c_label ORDER BY d, c_label) AS cluster
         |  FROM (SELECT e.vec_id, c_label, ${pqSubDistSql(s)} AS d FROM e, cent)
         |  GROUP BY vec_id),
         |sm$s AS (SELECT a.cluster, ii.i AS pos,
         |  ${scaledMeanSql(s"e.v[${8 * s} + ii.i]")} AS m
         |  FROM asg$s a JOIN e ON e.vec_id = a.vec_id
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS i) ii
         |  GROUP BY 1, 2),
         |sl$s AS (SELECT cluster AS c_label, list(m ORDER BY pos) AS sub FROM sm$s GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    val slices = (0 until 8)
      .map(s => s"coalesce(sl$s.sub, cent.cv[${8 * s + 1}:${8 * s + 8}])").mkString(" || ")
    val joins = (0 until 8).map(s => s"LEFT JOIN sl$s ON sl$s.c_label = cent.c_label").mkString(" ")
    s"""$perSub,
       |cent2 AS (SELECT cent.c_label, $slices AS cv FROM cent $joins)""".stripMargin
  }

  /** The 4 bucket tables of the multi-table embedding dedup (4 planes
    * each from one seeded 16-plane draw — mirrors embeddingDupPairs). */
  private lazy val embDupTablesSql: String = {
    val all = graft.vector.VectorOps.hyperplanes(16, 64)
    (0 until 4).map { t =>
      val b = lshBucketSqlFor("v", all.slice(t * 4, (t + 1) * 4))
      s"SELECT vec_id, v, $t AS tbl, $b AS bucket FROM e"
    }.mkString("\n  UNION ALL ")
  }

  /** Full MinHash-LSH CTE chain ending in `j(doc_a, doc_b, jac)` —
    * shared by q_minhash_pairs and the recursive q_dup_clusters. */
  private lazy val minhashCtes: String =
    s"""$shCte,
       |hashed AS (SELECT doc_id, s,
       |  ${(0 until 2).map(j => s"list_transform(s, x -> sha256('$j:' || x)) AS h$j").mkString(",\n  ")}
       |  FROM sh),
       |sig AS (SELECT doc_id, s, [
       |  ${(0 until 16).map { k =>
           val (j, i) = (k / 8, k % 8)
           s"list_min(list_transform(h$j, h -> h[${i * 8 + 1}:${i * 8 + 8}]))"
         }.mkString(",\n  ")}] AS sig FROM hashed),
       |bands AS (SELECT doc_id, bs.b AS band_idx,
       |  md5(sig[bs.b*4+1] || '|' || sig[bs.b*4+2] || '|' || sig[bs.b*4+3] || '|' || sig[bs.b*4+4]) AS band_hash
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b FROM bands a
       |  JOIN bands b2 ON a.band_idx = b2.band_idx AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id),
       |j AS (SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jac
       |  FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)""".stripMargin

  private def cosineSqlFor(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) /
       |  (sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))""".stripMargin

  private val cosineSql = cosineSqlFor("qv", "v")

  /** Corpus-wide multi-probe kNN CTE chain ending in
    * `r(q_id, vec_id, sim, rn)` — shared by q_knn_join and the
    * recursive q_knn_clusters. */
  private lazy val knnChainSql: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket,
       |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
       |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
       |qf AS (SELECT vec_id AS q_id, v AS qv, bucket,
       |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
       |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
       |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip
       |  FROM bk),
       |q AS (SELECT q_id, qv, bucket FROM qf
       |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM qf),
       |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
       |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)""".stripMargin

  /** Flat-dial MULTI-PROBE kNN chain ending in `r(q_id, vec_id, sim,
    * rn)` — the P-probe generalization of [[knnChainSql]]'s single-flip
    * form: rank the four planes per vector by (|margin|, plane index)
    * ascending — the same (m, i) struct sort the Spark side applies —
    * and probe the XOR of the bucket with each of the P lowest-ranked
    * bits. P single-bit flips are pairwise distinct and never equal the
    * own bucket, so the union needs no dedup at the flat dial. */
  private def knnFlatMpChainSql(probes: Int): String = {
    val unions = (0 until 4).map { i =>
      val head = if (i == 0) s"SELECT vec_id, ${1L << i} AS bit, abs(d${i + 1}) AS a, ${i + 1} AS pidx"
        else s"SELECT vec_id, ${1L << i}, abs(d${i + 1}), ${i + 1}"
      s"$head FROM bk"
    }.mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket,
       |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
       |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
       |mg AS ($unions),
       |fr AS (SELECT vec_id, bit, row_number() OVER (PARTITION BY vec_id ORDER BY a, pidx) AS rnk FROM mg),
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk
       |  UNION ALL SELECT bk.vec_id, bk.v, xor(bk.bucket, fr.bit) FROM bk
       |    JOIN fr ON bk.vec_id = fr.vec_id AND fr.rnk <= $probes),
       |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
       |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)""".stripMargin
  }

  /** Connected components over `edges(u, w)` WITHOUT the recursive
    * transitive closure: the `reach(u, w)` closure is O(Σ component²)
    * rows — measured 500+ s in DuckDB on the sf0.1 mutual-kNN graph —
    * while converged min-label propagation is O(E) per round. DuckDB
    * recursive CTEs cannot aggregate per iteration, so the rounds are
    * UNROLLED (the kmeans-oracle trick): each round takes the min
    * label over the closed neighborhood, then pointer-shortcuts
    * through the current label (`l ← min(l, l(l))`). 24 double-rounds
    * cover the ~25-step frontier distances the Spark CC loop measured
    * on this corpus with a wide margin; a non-converged unroll cannot
    * pass silently — it would hash-mismatch Spark's converged labels
    * at the gate. Ends in `lab(u, l)`. */
  /** Fixed-point PageRank rounds over `ed(src, dst)` / `dg(src, outdeg)`
    * starting from `pr0` (see VectorOps.qPagerank): each round is one
    * integer-division contribution sum + one damped update, all in
    * BIGINT so the chain matches Spark's loop exactly. Ends in
    * `pr<rounds>`. */
  private def prUnrolledSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""in$i AS MATERIALIZED (SELECT ed.dst, CAST(sum(p.pr // p.outdeg) AS BIGINT) AS in_mass
         |  FROM pr${i - 1} p JOIN ed ON p.vec_id = ed.src GROUP BY 1),
         |pr$i AS MATERIALIZED (SELECT p.vec_id, p.outdeg, p.n_nodes,
         |  (15 * (1000000000000 // p.n_nodes)) // 100 + (85 * coalesce(q.in_mass, 0)) // 100 AS pr
         |  FROM pr${i - 1} p LEFT JOIN in$i q ON p.vec_id = q.dst)""".stripMargin
    }.mkString(",\n")

  private def ccUnrolledSql(rounds: Int): String = {
    // AS MATERIALIZED on every stage: each round references the prior
    // one twice (propagate + shortcut), so default CTE inlining would
    // expand the 24-level chain into 2^24 scans.
    val sb = new StringBuilder(
      "lab0 AS MATERIALIZED (SELECT u, u AS l FROM (SELECT DISTINCT u FROM edges) t)")
    (1 to rounds).foreach { r =>
      sb ++= s""",
        |prop$r AS MATERIALIZED (SELECT u, min(l) AS l FROM (
        |  SELECT u, l FROM lab${r - 1}
        |  UNION ALL SELECT e.u, p.l FROM edges e JOIN lab${r - 1} p ON p.u = e.w) GROUP BY u),
        |lab$r AS MATERIALIZED (SELECT a.u, least(a.l, coalesce(b.l, a.l)) AS l
        |  FROM prop$r a LEFT JOIN prop$r b ON a.l = b.u)""".stripMargin
    }
    sb ++= s""",
      |lab AS (SELECT u, l FROM lab$rounds)""".stripMargin
    sb.toString
  }

  /** Composed recall@3 oracle: exact / LSH / multi-probe / IVF / PQ
    * chains in one WITH (fresh CTE names per chain; seed-centroid and
    * PQ-rank fragments shared with their standalone oracles), joined
    * against the exact top-k per query. */
  private lazy val annRecallSql: String = {
    val exactCtes =
      s"""xq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |xp AS (SELECT q_id, e.vec_id, $cosineSql AS sim FROM e, xq WHERE e.vec_id <> xq.q_id),
         |xk AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM xp) WHERE rn <= 3)""".stripMargin
    val lshCtes =
      s"""bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e),
         |lq AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk WHERE vec_id < 5),
         |lp AS (SELECT q_id, bk.vec_id, $cosineSql AS sim FROM bk JOIN lq USING (bucket) WHERE bk.vec_id <> lq.q_id),
         |lk AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM lp) WHERE rn <= 3)""".stripMargin
    val mpCtes =
      s"""mb AS (SELECT vec_id, v, bucket, ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
         |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM bk WHERE vec_id < 5),
         |mq0 AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
         |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
         |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip FROM mb),
         |mq AS (SELECT q_id, qv, bucket FROM mq0
         |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM mq0),
         |mpp AS (SELECT q_id, bk.vec_id, $cosineSql AS sim FROM bk JOIN mq USING (bucket) WHERE bk.vec_id <> mq.q_id),
         |mk AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM mpp) WHERE rn <= 3)""".stripMargin
    val ivfCtes =
      s"""ic0 AS (SELECT xq.q_id, xq.qv, c_label, ${cosineSqlFor("qv", "cv")} AS csim FROM xq, cent),
         |ic AS (SELECT q_id, qv, c_label FROM (SELECT *, row_number() OVER
         |  (PARTITION BY q_id ORDER BY csim DESC, c_label) AS crn FROM ic0) WHERE crn <= 2),
         |ip AS (SELECT q_id, e.vec_id, ${cosineSqlFor("qv", "v")} AS sim
         |  FROM e JOIN ic ON e.label = ic.c_label WHERE e.vec_id <> ic.q_id),
         |ik AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM ip) WHERE rn <= 3)""".stripMargin
    s"""WITH $pqSeedCtesSql,
       |$exactCtes,
       |$lshCtes,
       |$mpCtes,
       |$ivfCtes,
       |${pqRankChainSql("cent")},
       |pk AS (SELECT q_id, vec_id FROM r WHERE rn <= 3)
       |SELECT method, CAST(3 AS BIGINT) AS k, CAST(5 AS BIGINT) AS n_queries, n_hits,
       |  CAST(n_hits AS DOUBLE) / 15.0 AS recall
       |FROM (
       |  SELECT 'ivf' AS method, count(*) AS n_hits FROM ik JOIN xk USING (q_id, vec_id)
       |  UNION ALL SELECT 'lsh', count(*) FROM lk JOIN xk USING (q_id, vec_id)
       |  UNION ALL SELECT 'lsh_mp', count(*) FROM mk JOIN xk USING (q_id, vec_id)
       |  UNION ALL SELECT 'pq', count(*) FROM pk JOIN xk USING (q_id, vec_id)
       |) ORDER BY method""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  $sumQty AS sum_qty,
         |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
         |  CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         |  CAST(CAST(sum($revenueExpr * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
         |  $sumQty / count(*) AS avg_qty,
         |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
         |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100",
    "q_cast" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS okey_str,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS okey_back,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price2
        |FROM orders ORDER BY okey_back LIMIT 500""".stripMargin,
    "q_filter" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 30 AND regexp_matches(p_type, '(?i)econ|promo')
        |  AND p_name IS NOT NULL
        |ORDER BY p_partkey""".stripMargin,
    "q_join_lookup" ->
      s"""SELECT n_name, CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem
         |LEFT JOIN supplier ON l_suppkey = s_suppkey
         |LEFT JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_join_inner" ->
      s"""SELECT c_mktsegment, CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(12,2)) AS DOUBLE) AS min_price,
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(12,2)) AS DOUBLE) AS max_price,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_date
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Deterministic md5-register HLL replay: integer-exact hash/register/
    // rank/harmonic-sum steps, identical IEEE literals for the final
    // estimate — see Relational.qHllAudit scaladoc
    "q_hll_audit" ->
      """WITH h AS (
        |  SELECT l_returnflag AS flag, 'part' AS col_name,
        |    CAST(('0x' || substr(md5('hll:' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(l_partkey AS BIGINT) AS v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag AS flag, 'order' AS col_name,
        |    CAST(('0x' || substr(md5('hll:' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(l_orderkey AS BIGINT) AS v
        |  FROM lineitem),
        |regs AS (
        |  SELECT flag, col_name, h & 127 AS idx,
        |    MAX(54 - length(ltrim(bin(h >> 7), '0'))) AS rmax
        |  FROM h GROUP BY flag, col_name, idx),
        |z AS (
        |  SELECT flag, col_name,
        |    SUM(CAST(1 AS BIGINT) << CAST(54 - rmax AS INTEGER))
        |      + (128 - COUNT(*)) * (CAST(1 AS BIGINT) << 54) AS z
        |  FROM regs GROUP BY flag, col_name),
        |exact AS (
        |  SELECT flag, col_name, count(DISTINCT v) AS n_exact
        |  FROM h GROUP BY flag, col_name),
        |est AS (
        |  SELECT z.flag, z.col_name, exact.n_exact,
        |    (CAST('0.7213' AS DOUBLE) / (1.0 + CAST('1.079' AS DOUBLE) / 128.0) * 16384.0)
        |      * (18014398509481984.0 / CAST(z.z AS DOUBLE)) AS n_est
        |  FROM z JOIN exact ON z.flag = exact.flag AND z.col_name = exact.col_name)
        |SELECT flag, col_name, n_exact, n_est,
        |  CAST(floor(abs(n_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS err_ppm
        |FROM est ORDER BY flag, col_name""".stripMargin,
    "q_rollup" ->
      s"""SELECT coalesce(l_returnflag, '(all)') AS returnflag,
         |  coalesce(l_linestatus, '(all)') AS linestatus,
         |  $sumQty AS sum_qty, count(*) AS n_items
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
        |FROM orders ORDER BY totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_topk_group" ->
      """WITH t AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price2 FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY price2 DESC, l_orderkey, l_linenumber) AS rn FROM t)
        |SELECT l_returnflag, l_orderkey, l_linenumber, price2, rn
        |FROM r WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,
    // same oracle as q_topk_group — the bounded-heap aggregate variant
    // must produce byte-identical rows
    "q_topk_agg" ->
      """WITH t AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price2 FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY price2 DESC, l_orderkey, l_linenumber) AS rn FROM t)
        |SELECT l_returnflag, l_orderkey, l_linenumber, price2, rn
        |FROM r WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin,
    "q_setops" ->
      """WITH y94 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |     y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT 'union_all' AS op, count(*) AS n FROM (SELECT * FROM y94 UNION ALL SELECT * FROM y95)
        |UNION ALL SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM y94 INTERSECT SELECT * FROM y95)
        |UNION ALL SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM y94 EXCEPT SELECT * FROM y95)
        |ORDER BY op""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_window_rank" ->
      """WITH t AS (SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
        |r AS (SELECT c_nationkey, c_custkey, CAST(bal AS DOUBLE) AS acctbal,
        |  rank() OVER (PARTITION BY c_nationkey ORDER BY bal DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY c_nationkey ORDER BY bal DESC) AS drnk,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY bal DESC, c_custkey) AS rn
        |  FROM t)
        |SELECT c_nationkey, c_custkey, acctbal, rnk, drnk, rn
        |FROM r WHERE rn <= 5 ORDER BY c_nationkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_spend,
        |  count(*) OVER w AS running_orders
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, CAST(p AS DOUBLE) AS price,
        |  CAST(lag(p, 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(p - coalesce(lag(p, 1) OVER w, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS delta,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders WHERE o_custkey <= 50)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_str" ->
      """SELECT p_partkey, lower(p_name) AS name_lo, upper(p_brand) AS brand_up,
        |  substring(p_type, 1, 5) AS type5, concat_ws('|', p_brand, p_type) AS brand_type,
        |  length(p_name) AS name_len, regexp_extract(p_type, '(\w+)$', 1) AS type_last,
        |  substring(sha256(p_name), 1, 16) AS name_sha16,
        |  len(string_split(p_name, ' ')) AS name_words
        |FROM part ORDER BY p_partkey LIMIT 300""".stripMargin,
    "q_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_date" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |  CAST(year(o_orderdate) AS INT) AS yr, CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2, 3 ORDER BY month""".stripMargin,
    "q_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  l_orderkey % 7 AS mod7,
        |  CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid'
        |    ELSE 'small' END AS tier,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS net,
        |  CAST(greatest(CAST(l_discount AS DECIMAL(6,4)), CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS max_rate,
        |  CAST(least(CAST(l_discount AS DECIMAL(6,4)), CAST(l_tax AS DECIMAL(6,4))) AS DOUBLE) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,
    "q_array" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
        |  list_sort(toks)[1] AS first_token,
        |  CAST(CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END AS BIGINT) AS has_the,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_chars
        |FROM t ORDER BY doc_id LIMIT 300""".stripMargin,
    "q_headers" ->
      """SELECT event_id,
        |  'accept=application/json;content-type=' ||
        |  CASE WHEN event_id % 3 = 0 THEN 'application/json'
        |       WHEN event_id % 3 = 1 THEN 'text/html'
        |       ELSE 'application/xml' END AS relevant
        |FROM events ORDER BY event_id LIMIT 300""".stripMargin,
    "q_cache_key" ->
      """SELECT event_id,
        |  'https://api.example.com/v1/items?a=' || CAST(event_id AS VARCHAR) || '&b=' || CAST(user_id AS VARCHAR) AS url_norm,
        |  'opensea:v1:' || sha256('{"url":"https://api.example.com/v1/items?a=' || CAST(event_id AS VARCHAR) || '&b=' || CAST(user_id AS VARCHAR) || '","accept":"application/json"}') AS cache_key
        |FROM events ORDER BY event_id LIMIT 300""".stripMargin,
    "q_ttl" ->
      """WITH t AS (SELECT event_id,
        |  CASE WHEN event_id % 4 = 0 THEN 'public, max-age=' || CAST(event_id % 200000 AS VARCHAR)
        |       WHEN event_id % 4 = 1 THEN 'max-age=600, stale-while-revalidate=' || CAST(event_id % 1000 AS VARCHAR)
        |       WHEN event_id % 4 = 2 THEN 'no-store'
        |       ELSE 'no-cache, must-revalidate' END AS cache_control
        |  FROM events),
        |m AS (SELECT event_id, cache_control,
        |  CASE WHEN regexp_matches(cache_control, 'max-age=\d+')
        |    THEN CAST(regexp_extract(cache_control, 'max-age=(\d+)', 1) AS INT) ELSE 0 END AS ma,
        |  CASE WHEN regexp_matches(cache_control, 'stale-while-revalidate=\d+')
        |    THEN CAST(regexp_extract(cache_control, 'stale-while-revalidate=(\d+)', 1) AS INT) ELSE 0 END AS swr
        |  FROM t)
        |SELECT event_id, cache_control, CAST(ma AS BIGINT) AS max_age,
        |  CAST(CASE WHEN regexp_matches(cache_control, '(?i)no-store') THEN 0
        |    ELSE least(greatest(ma + swr, 0), 86400) END AS BIGINT) AS ttl,
        |  CAST(CASE WHEN regexp_matches(cache_control, '(?i)no-store') THEN 1 ELSE 0 END AS BIGINT) AS is_no_store,
        |  CAST(CASE WHEN regexp_matches(cache_control, '(?i)no-cache|must-revalidate') THEN 1 ELSE 0 END AS BIGINT) AS must_revalidate,
        |  CAST(CASE WHEN ma = 0 THEN 0
        |    WHEN (event_id % 120000) >= ma THEN 1 ELSE 0 END AS BIGINT) AS is_stale
        |FROM m ORDER BY event_id LIMIT 400""".stripMargin,
    "q_tumble" ->
      """SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "q_slide" ->
      """WITH w AS (SELECT make_timestamp((CAST(floor(epoch(ts)/300) AS BIGINT) - ks.k)*300*1000000) AS ws, value
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS k) ks)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1 ORDER BY wstart""".stripMargin,
    "q_session" ->
      """WITH m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 10 MINUTE
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q_state_ttl" ->
      """WITH hw AS (SELECT max(ts) AS hw FROM events),
        |f AS (SELECT e.* FROM events e, hw WHERE e.ts >= hw.hw - INTERVAL 6 HOUR),
        |r AS (SELECT user_id, event_id, event_type, ts,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM f)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_revalidate" ->
      """WITH e AS (SELECT user_id % 50 AS cache_key, ts, event_id, md5(event_type)[1:8] AS etag FROM events),
        |c AS (SELECT *, lag(etag) OVER (PARTITION BY cache_key ORDER BY ts, event_id) AS prev FROM e),
        |f AS (SELECT cache_key, ts, event_id, etag,
        |  CASE WHEN prev IS NULL OR prev <> etag THEN 1 ELSE 0 END AS is_replace FROM c),
        |g AS (SELECT cache_key, count(*) AS n_fetches, CAST(sum(is_replace) AS BIGINT) AS n_replace,
        |  count(*) - CAST(sum(is_replace) AS BIGINT) AS n_refresh FROM f GROUP BY cache_key),
        |l AS (SELECT cache_key, etag AS last_etag, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_fetch,
        |  strftime(ts + INTERVAL 600 SECOND, '%Y-%m-%d %H:%M:%S') AS expires_at
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cache_key ORDER BY ts DESC, event_id DESC) AS rn FROM f)
        |  WHERE rn = 1)
        |SELECT g.cache_key, n_fetches, n_refresh, n_replace, last_etag, last_fetch, expires_at
        |FROM g JOIN l USING (cache_key) ORDER BY cache_key""".stripMargin,
    "q_swr_serve" ->
      """WITH e AS (SELECT user_id % 50 AS cache_key, ts, event_id, md5(event_type)[1:8] AS etag FROM events),
        |c AS (SELECT *, lag(etag) OVER (PARTITION BY cache_key ORDER BY ts, event_id) AS prev FROM e)
        |SELECT event_id, cache_key, coalesce(prev, etag) AS served_etag, etag AS origin_etag,
        |  CAST(CASE WHEN prev IS NOT NULL AND prev <> etag THEN 1 ELSE 0 END AS BIGINT) AS served_stale
        |FROM c ORDER BY event_id LIMIT 500""".stripMargin,
    "q_late" ->
      """WITH hw AS (SELECT max(ts) AS hw FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events, hw WHERE ts >= hw.hw - INTERVAL 1 HOUR
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q_stream_restart: the Spark side delivers the 5% slice through
    // TWO stream lifetimes sharing one checkpoint; the oracle computes
    // the aggregate straight from the slice. A replayed first half
    // doubles n (but not n_ids), a dropped second half shrinks both —
    // either breaks the hash.
    "q_stream_restart" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_ids,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 20 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, lang, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is'))) AS BIGINT) AS n_stop,
        |  CAST(list_sum(list_transform(toks, t -> floor((length(t) + 5) / 6))) AS BIGINT) AS n_bpeish,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |    * least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_langid" ->
      """WITH t AS (SELECT lang, text, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT lang, text,
        |  len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is'))) AS en,
        |  len(list_filter(toks, t -> t IN ('el','la','de','que','y','los'))) AS es,
        |  len(list_filter(toks, t -> t IN ('der','die','und','das','ist','ein'))) AS de,
        |  len(list_filter(toks, t -> t IN ('le','la','et','les','des','un'))) AS fr
        |  FROM t)
        |SELECT lang,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |    WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |    WHEN de >= fr AND de > 0 THEN 'de'
        |    WHEN fr > 0 THEN 'fr' ELSE 'und' END AS guess,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,
    "q_term_freq" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q_fingerprint" ->
      """WITH f AS (SELECT source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM documents)
        |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
        |  count(*) - count(DISTINCT fp) AS n_exact_dups
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q_sample" ->
      s"""SELECT lang, count(*) AS n_sampled,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
         |FROM documents
         |WHERE md5('s0:' || CAST(doc_id AS VARCHAR))[1:8] < '${graft.text.TextOps.sampleThreshold(0.2)}'
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b, jac FROM j WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_stat,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_string_agg" ->
      """SELECT p_brand, count(*) AS n,
        |  string_agg(p_name, '|' ORDER BY p_name) AS names
        |FROM part WHERE p_size <= 2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT l_partkey, count(*) AS n FROM lineitem
        |GROUP BY l_partkey HAVING count(*) >= 5
        |ORDER BY n DESC, l_partkey""".stripMargin,
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
        |  FROM t WHERE len(toks) >= 5),
        |b0 AS (SELECT doc_id, grams FROM g
        |  ORDER BY md5('decon:' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 100),
        |b AS (SELECT DISTINCT unnest(grams) AS gram FROM b0),
        |c AS (SELECT doc_id, unnest(grams) AS gram FROM g
        |  WHERE doc_id NOT IN (SELECT doc_id FROM b0))
        |SELECT doc_id, count(*) AS n_contaminated_grams
        |FROM c JOIN b USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_incr_dedup" ->
      s"""WITH $minhashCtes,
         |near AS (
         |  SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
         |         min(CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END) AS near_dup_of
         |  FROM j
         |  WHERE jac >= 0.5 AND ((doc_a % 5 = 0) <> (doc_b % 5 = 0))
         |  GROUP BY 1),
         |fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
         |  FROM documents),
         |hist AS (SELECT DISTINCT f FROM fp WHERE doc_id % 5 <> 0),
         |delta AS (SELECT doc_id, f FROM fp WHERE doc_id % 5 = 0)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN h.f IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup,
         |  CAST(coalesce(n.near_dup_of, -1) AS BIGINT) AS near_dup_of
         |FROM delta d LEFT JOIN hist h ON d.f = h.f LEFT JOIN near n ON n.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_curate" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |losers AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> min(v)),
         |tt AS (SELECT doc_id, lang, source, text, n_chars,
         |  string_split(text, ' ') AS toks FROM documents),
         |scored AS (SELECT *,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |    * least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) AS quality,
         |  len(list_filter(toks, w -> w IN ('the','a','of','to','and','in','is'))) AS en,
         |  len(list_filter(toks, w -> w IN ('el','la','de','que','y','los'))) AS es,
         |  len(list_filter(toks, w -> w IN ('der','die','und','das','ist','ein'))) AS de,
         |  len(list_filter(toks, w -> w IN ('le','la','et','les','des','un'))) AS fr
         |  FROM tt),
         |guessed AS (SELECT *,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |    WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
         |    WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
         |    WHEN de >= fr AND de > 0 THEN 'de'
         |    WHEN fr > 0 THEN 'fr' ELSE 'und' END AS guess
         |  FROM scored),
         |kept AS (SELECT * FROM guessed
         |  WHERE quality >= 0.35 AND guess = lang
         |    AND doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND substring(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
         |  CAST(CAST(sum(CAST(quality AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS sum_quality
         |FROM kept GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_ngram_pairs" ->
      s"""WITH ranked AS (SELECT doc_id, text FROM documents
         |  ORDER BY md5('ngram:' || CAST(doc_id AS VARCHAR)), doc_id
         |  LIMIT ${Dedup.NgramSampleK}),
         |d AS (SELECT doc_id, string_split(text,' ') AS t FROM ranked
         |  WHERE len(string_split(text,' ')) >= 3),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM d),
         |j AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jac
         |  FROM sh x, sh y WHERE x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, jac FROM j WHERE jac >= 0.7 ORDER BY doc_a, doc_b""".stripMargin,
    "q_cube" ->
      s"""SELECT coalesce(l_returnflag, '(all)') AS returnflag,
         |  coalesce(l_linestatus, '(all)') AS linestatus,
         |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_stat,
         |  $sumQty AS sum_qty, count(*) AS n_items
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus, g_flag, g_stat""".stripMargin,
    "q_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(first_value(p) OVER wf AS DOUBLE) AS first_price,
        |  CAST(last_value(p) OVER wf AS DOUBLE) AS last_price,
        |  CAST(nth_value(p, 2) OVER wf AS DOUBLE) AS second_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders WHERE o_custkey <= 60)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_stats" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s2,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS t1,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS t2,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, s1/n AS mean_price,
        |  sqrt((s2 - s1*s1/n)/(n-1)) AS sd_price,
        |  (n*sxy - s1*t1)/(sqrt(n*s2 - s1*s1)*sqrt(n*t2 - t1*t1)) AS corr_pq
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_fuzzy" ->
      s"""WITH p AS (SELECT p_partkey, p_name, p_brand FROM part
        |  ORDER BY md5('fuzzy:' || CAST(p_partkey AS VARCHAR)), p_partkey
        |  LIMIT ${Advanced.FuzzySampleK})
        |SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY a.p_brand, key_a, key_b""".stripMargin,
    "q_map" ->
      """SELECT event_id, event_type AS m_type, CAST(2 AS BIGINT) AS m_size,
        |  'TYPE,K' AS keys_upper,
        |  json_extract_string(props, '$.k') AS k_vals
        |FROM events ORDER BY event_id LIMIT 300""".stripMargin,
    "q_ingest_json" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 10 = 0 THEN NULL
        |    ELSE CAST(json_extract_string(props, '$.k') AS INT) END AS k,
        |  CAST(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_corrupt
        |FROM events ORDER BY event_id LIMIT 400""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |SELECT l_returnflag, measure,
        |  CAST(CAST(sum(CAST(val AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_val,
        |  count(*) AS n
        |FROM m GROUP BY l_returnflag, measure ORDER BY l_returnflag, measure""".stripMargin,
    "q_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
        str("o_orderstatus"), str("o_orderpriority"), str("o_orderdate"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_asof" ->
      """WITH p AS (SELECT user_id, ts AS pts, max(event_id) AS last_purchase_id,
        |  CAST(CAST(max(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS last_purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ets,
        |  p.last_purchase_id, p.last_purchase_value
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts
        |ORDER BY e.event_id LIMIT 500""".stripMargin,
    "q_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_transform(string_split(text, ' '), tk -> md5(tk)) AS hs
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT doc_id, CAST(${simhashSql("hs")} AS BIGINT) AS simhash
         |FROM t ORDER BY doc_id LIMIT 300""".stripMargin,
    "q_simhash_pairs" -> {
      // Mirror the Spark side's C(6,3)=20 block-triple equi-join instead
      // of an O(n²) cross self-join: exact for hamming ≤ 3 by pigeonhole
      // (3 bit errors corrupt ≤ 3 of the 6 blocks, so some triple agrees),
      // and — unlike the cross join — this SQL stays runnable if the
      // oracle is pointed at a ScaleGen dir (the r4 form would explode at
      // 500k docs). Compound key = triple_idx·2³³ + packed 31–33 bits.
      val blocks = { // same (shift, width) layout as Dedup.shBlocks
        val widths = Seq(11, 11, 11, 11, 10, 10)
        widths.scanLeft(0)(_ + _).zip(widths)
      }
      val tripleKeys = blocks.combinations(3).toSeq.zipWithIndex.map { case (blks, idx) =>
        val key = blks.foldLeft("CAST(0 AS BIGINT)") { case (acc, (shift, width)) =>
          s"(($acc) * ${1L << width} + ((sh >> $shift) & ${(1L << width) - 1}))"
        }
        s"($key + ${idx.toLong << 33})"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, list_transform(string_split(text, ' '), tk -> md5(tk)) AS hs
         |  FROM documents),
         |s AS (SELECT doc_id, CAST(${simhash64Sql("hs")} AS BIGINT) AS sh FROM t),
         |bd AS (SELECT doc_id, sh, unnest([$tripleKeys]) AS bk FROM s)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM bd a JOIN bd b ON a.bk = b.bk AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_sim_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk WHERE vec_id < 5),
         |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_sim_lsh_mp" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket,
         |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
         |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
         |qf AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
         |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
         |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip
         |  FROM bk WHERE vec_id < 5),
         |q AS (SELECT q_id, qv, bucket FROM qf
         |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM qf),
         |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_knn_join" ->
      s"""WITH $knnChainSql
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_knn_join_mp" ->
      s"""WITH ${knnFlatMpChainSql(2)}
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // q_knn_filtered: the flat single-flip chain with the label = 7
    // predicate on the CANDIDATE side; queries with >= 3 filtered
    // candidates in their probed buckets are served from them, the
    // rest re-rank EXACT over the filtered corpus (the escalation
    // path). Both arms mirror the Spark plans bit-for-bit.
    "q_knn_filtered" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS MATERIALIZED (SELECT vec_id, label, v, ${lshBucketSql("v")} AS bucket,
         |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
         |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
         |qf AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
         |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
         |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip
         |  FROM bk),
         |q AS (SELECT q_id, qv, bucket FROM qf
         |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM qf),
         |p AS MATERIALIZED (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN q USING (bucket)
         |  WHERE bk.vec_id <> q.q_id AND bk.label = 7),
         |ok AS MATERIALIZED (SELECT q_id FROM p GROUP BY q_id HAVING count(*) >= 3),
         |r AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM p WHERE q_id IN (SELECT q_id FROM ok)),
         |sh AS (SELECT vec_id AS q_id, v AS qv FROM e
         |  WHERE vec_id NOT IN (SELECT q_id FROM ok)),
         |ex AS (SELECT sh.q_id, c.vec_id, $cosineSql AS sim
         |  FROM sh JOIN e c ON c.label = 7 AND c.vec_id <> sh.q_id),
         |xr AS (SELECT q_id, vec_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM ex)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3
         |UNION ALL SELECT q_id, rn, vec_id, sim FROM xr WHERE rn <= 3
         |ORDER BY q_id, rn""".stripMargin,
    // q_knn_filtered_part: the PARTITIONED filtered-ANN arm — the trie
    // is built over the label = 7 rows only, under the PARTITION's own
    // dial (flat at every oracle corpus: the partition is far below the
    // trie threshold, exactly like the shared index — they coincide at
    // gate scale and diverge at ScaleGen corpora, where the generator
    // form takes over). The generator emits the flat chain here.
    "q_knn_filtered_part" -> knnFilteredPartOracleSqlFor(100),
    // q_knn_part_incr: the CDF-MAINTAINED partition trie — the final
    // corpus recomputed logically (reversals, label shifts, clones,
    // deletes) through the partition chain; the Spark side serves this
    // from four incremental feed-sized ticks, so any maintenance drift
    // (a missed move direction, a stale histogram) breaks this hash.
    // Flat at the gate (the v0 label-7 partition is far below trie
    // scale); tools/spot_check regenerates the dialed form at ScaleGen
    // corpora.
    "q_knn_part_incr" -> knnPartIncrOracleSqlFor(100),
    // q_knn_routed: the ROUTER exercised on both shapes over its
    // fixture corpus — the label7 branch embeds the partition-trie
    // chain, par0 the shared-trie chain; the dials diverge (4,12) vs
    // (6,14), so the gate hash itself catches a mis-route. One static
    // text at every scale (fixture-backed, like q_emb_dup).
    "q_knn_routed" -> knnRoutedOracleSql,
    // q_knn_routed_range: the router under a GENERIC predicate (a label
    // RANGE — not a partition-key equality, so no per-value trie can
    // exist and the partKey=None fallback must serve the SHARED arm
    // whatever the measured split says; r12 VERDICT #3). The oracle is
    // the shared-trie chain under the range predicate over the same
    // fixture — one static text at every scale.
    "q_knn_routed_range" -> knnRoutedRangeOracleSql,
    // q_knn_incr: the FINAL corpus recomputed logically — survivors of
    // the %17==3 DELETE WHERE carry the %11==0 reversal upserts, plus
    // the negated %13==0 clones at +100000 — then the same flat-dial
    // single-flip kNN chain as q_knn_join, from scratch. The Spark side
    // serves this from the CDF-maintained index; any retraction/sign/
    // bucket drift in maintenance mismatches this hash.
    "q_knn_incr" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
         |e AS (SELECT vec_id, CASE WHEN vec_id % 11 = 0 THEN list_reverse(v0) ELSE v0 END AS v
         |        FROM base WHERE vec_id % 17 <> 3
         |      UNION ALL
         |      SELECT vec_id + (SELECT max(vec_id) + 1 FROM base) AS vec_id, list_transform(v0, x -> -x) AS v
         |        FROM base WHERE vec_id % 13 = 0),
         |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket,
         |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
         |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
         |qf AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
         |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
         |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip
         |  FROM bk),
         |q AS (SELECT q_id, qv, bucket FROM qf
         |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM qf),
         |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // q_knn_stream: the SAME lineage and dial maintained by a LIVE
    // Structured Streaming subscription (KnnIncr.maintainStream) —
    // maintained == rebuilt by construction, so the oracle is the
    // identical from-scratch recompute; a streaming-fold drift (replay
    // double-count, missed retraction, stale stamp) breaks this hash.
    "q_knn_stream" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
         |e AS (SELECT vec_id, CASE WHEN vec_id % 11 = 0 THEN list_reverse(v0) ELSE v0 END AS v
         |        FROM base WHERE vec_id % 17 <> 3
         |      UNION ALL
         |      SELECT vec_id + (SELECT max(vec_id) + 1 FROM base) AS vec_id, list_transform(v0, x -> -x) AS v
         |        FROM base WHERE vec_id % 13 = 0),
         |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket,
         |  ${planeDotsSql(0)} AS d1, ${planeDotsSql(1)} AS d2,
         |  ${planeDotsSql(2)} AS d3, ${planeDotsSql(3)} AS d4 FROM e),
         |qf AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |  CASE WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) AND abs(d1) <= abs(d4) THEN 1
         |       WHEN abs(d2) <= abs(d3) AND abs(d2) <= abs(d4) THEN 2
         |       WHEN abs(d3) <= abs(d4) THEN 4 ELSE 8 END AS flip
         |  FROM bk),
         |q AS (SELECT q_id, qv, bucket FROM qf
         |  UNION ALL SELECT q_id, qv, xor(bucket, flip) AS bucket FROM qf),
         |p AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN q USING (bucket) WHERE bk.vec_id <> q.q_id),
         |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_knn_clusters" ->
      s"""WITH $knnChainSql,
         |knn AS MATERIALIZED (SELECT q_id, vec_id FROM r WHERE rn <= 3),
         |m AS MATERIALIZED (SELECT k1.q_id AS a, k1.vec_id AS b FROM knn k1
         |  JOIN knn k2 ON k1.q_id = k2.vec_id AND k1.vec_id = k2.q_id
         |  WHERE k1.q_id < k1.vec_id),
         |edges AS MATERIALIZED (SELECT a AS u, b AS w FROM m UNION ALL SELECT b AS u, a AS w FROM m),
         |${ccUnrolledSql(24)}
         |SELECT u AS vec_id, l AS cluster_id FROM lab ORDER BY vec_id""".stripMargin,
    "q_semantic_curate" ->
      s"""WITH $knnChainSql,
         |knn AS MATERIALIZED (SELECT q_id, vec_id FROM r WHERE rn <= 3),
         |m AS MATERIALIZED (SELECT k1.q_id AS a, k1.vec_id AS b FROM knn k1
         |  JOIN knn k2 ON k1.q_id = k2.vec_id AND k1.vec_id = k2.q_id
         |  WHERE k1.q_id < k1.vec_id),
         |edges AS MATERIALIZED (SELECT a AS u, b AS w FROM m UNION ALL SELECT b AS u, a AS w FROM m),
         |${ccUnrolledSql(24)},
         |st AS (SELECT count(*) AS n_in_clusters,
         |  CAST(sum(CASE WHEN u <> l THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
         |  FROM lab)
         |SELECT (SELECT count(*) FROM e) AS n_total, n_in_clusters, n_pruned,
         |  (SELECT count(*) FROM e) - n_pruned AS n_kept FROM st""".stripMargin,
    // fixed-point integer PageRank (scale 1e12, d=0.85, 5 rounds) over the
    // mutual-kNN graph — every round is exact integer //-division + sums,
    // so the unrolled chain reproduces Spark's loop bit-for-bit
    "q_pagerank" ->
      s"""WITH $knnChainSql,
         |knn AS MATERIALIZED (SELECT q_id, vec_id FROM r WHERE rn <= 3),
         |m AS MATERIALIZED (SELECT k1.q_id AS a, k1.vec_id AS b FROM knn k1
         |  JOIN knn k2 ON k1.q_id = k2.vec_id AND k1.vec_id = k2.q_id
         |  WHERE k1.q_id < k1.vec_id),
         |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM m UNION ALL SELECT b AS src, a AS dst FROM m),
         |dg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM ed GROUP BY 1),
         |nn AS (SELECT count(*) AS n_nodes FROM dg),
         |pr0 AS MATERIALIZED (SELECT src AS vec_id, outdeg, n_nodes,
         |  1000000000000 // n_nodes AS pr FROM dg CROSS JOIN nn),
         |${prUnrolledSql(5)}
         |SELECT vec_id, pr AS pr_scaled FROM pr5
         |ORDER BY pr_scaled DESC, vec_id""".stripMargin,
    // Triangle counting mirrors the degree-ordered orientation exactly:
    // direct each canonical edge from its (deg, id)-smaller endpoint,
    // enumerate wedges at the apex, close against the canonical list.
    "q_triangles" ->
      s"""WITH $knnChainSql,
         |knn AS MATERIALIZED (SELECT q_id, vec_id FROM r WHERE rn <= 3),
         |m AS MATERIALIZED (SELECT k1.q_id AS a, k1.vec_id AS b FROM knn k1
         |  JOIN knn k2 ON k1.q_id = k2.vec_id AND k1.vec_id = k2.q_id
         |  WHERE k1.q_id < k1.vec_id),
         |dg AS MATERIALIZED (SELECT v, count(*) AS deg
         |  FROM (SELECT a AS v FROM m UNION ALL SELECT b AS v FROM m) GROUP BY v),
         |oe AS MATERIALIZED (SELECT
         |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS src,
         |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS dst
         |  FROM m JOIN dg da ON m.a = da.v JOIN dg db ON m.b = db.v),
         |w AS (SELECT o1.src, o1.dst AS x, o2.dst AS y
         |  FROM oe o1 JOIN oe o2 ON o1.src = o2.src AND o1.dst < o2.dst),
         |t AS MATERIALIZED (SELECT src, x, y FROM w JOIN m ON w.x = m.a AND w.y = m.b),
         |tn AS (SELECT v, count(*) AS n_tri FROM
         |  (SELECT src AS v FROM t UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t)
         |  GROUP BY v)
         |SELECT v AS vec_id, n_tri, deg,
         |  2.0 * n_tri / (deg * (deg - 1)) AS clustering_coeff
         |FROM tn JOIN dg USING (v) ORDER BY vec_id""".stripMargin,
    "q_sim_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT label, ii.i - 1 AS pos, v[ii.i] AS x
         |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii),
         |cm AS (SELECT label, pos,
         |  ${scaledMeanSql("x")} AS m
         |  FROM ex GROUP BY 1, 2),
         |cent AS (SELECT label AS c_label, list(m ORDER BY pos) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |qc0 AS (SELECT q_id, qv, c_label, ${cosineSqlFor("qv", "cv")} AS csim FROM q, cent),
         |qc AS (SELECT q_id, qv, c_label FROM (SELECT *, row_number() OVER
         |  (PARTITION BY q_id ORDER BY csim DESC, c_label) AS crn FROM qc0) WHERE crn <= 2),
         |p AS (SELECT q_id, e.vec_id, ${cosineSqlFor("qv", "v")} AS sim
         |  FROM e JOIN qc ON e.label = qc.c_label WHERE e.vec_id <> qc.q_id),
         |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
         |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_ann_recall" -> annRecallSql,
    "q_kmeans" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT label, ii.i - 1 AS pos, v[ii.i] AS x
         |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii),
         |cm0 AS (SELECT label, pos,
         |  ${scaledMeanSql("x")} AS m
         |  FROM ex GROUP BY 1, 2),
         |c0 AS (SELECT label AS c_label, list(m ORDER BY pos) AS cv FROM cm0 GROUP BY label),
         |d1 AS (SELECT vec_id, v, c_label,
         |  list_sum(list_transform(range(1, 65), i -> (v[i]-cv[i])*(v[i]-cv[i]))) AS dist
         |  FROM e, c0),
         |a1 AS (SELECT vec_id, v, c_label AS cluster FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM d1)
         |  WHERE rn = 1),
         |ex1 AS (SELECT cluster, ii.i - 1 AS pos, v[ii.i] AS x
         |  FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii),
         |cm1 AS (SELECT cluster, pos,
         |  ${scaledMeanSql("x")} AS m
         |  FROM ex1 GROUP BY 1, 2),
         |c1 AS (SELECT cluster AS c_label, list(m ORDER BY pos) AS cv FROM cm1 GROUP BY cluster),
         |d2 AS (SELECT vec_id, v, c_label,
         |  list_sum(list_transform(range(1, 65), i -> (v[i]-cv[i])*(v[i]-cv[i]))) AS dist
         |  FROM e, c1),
         |a2 AS (SELECT vec_id, v, c_label AS cluster FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM d2)
         |  WHERE rn = 1),
         |ex2 AS (SELECT cluster, ii.i - 1 AS pos, v[ii.i] AS x
         |  FROM a2 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii),
         |cm2 AS (SELECT cluster, pos,
         |  ${scaledMeanSql("x")} AS m
         |  FROM ex2 GROUP BY 1, 2),
         |c2 AS (SELECT cluster AS c_label, list(m ORDER BY pos) AS cv FROM cm2 GROUP BY cluster)
         |SELECT CAST(a2.cluster AS BIGINT) AS cluster, count(*) AS n_members,
         |  any_value(list_sum(cv)) AS c_checksum
         |FROM a2 JOIN c2 ON a2.cluster = c2.c_label
         |GROUP BY a2.cluster ORDER BY cluster""".stripMargin,
    "q_sim_pq" ->
      s"""WITH $pqSeedCtesSql,
         |${pqRankChainSql("cent")}
         |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_sim_pq_refined" ->
      s"""WITH $pqSeedCtesSql,
         |$pqRefineCtesSql,
         |${pqRankChainSql("cent2")}
         |SELECT q_id, rn, vec_id, score FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_tpch7" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  year(l.l_shipdate) AS l_year,
         |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
         |    (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         |WHERE (sn.n_nationkey = 1 AND cn.n_nationkey = 2)
         |   OR (sn.n_nationkey = 2 AND cn.n_nationkey = 1)
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch10" ->
      s"""SELECT c.c_custkey, c.c_name, n.n_name,
         |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
         |    (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM customer c
         |JOIN orders o ON o.o_custkey = c.c_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         |  AND l.l_returnflag = 'R'
         |GROUP BY c.c_custkey, c.c_name, n.n_name
         |ORDER BY revenue DESC, c.c_custkey
         |LIMIT 20""".stripMargin,
    "q_tpch18" ->
      s"""SELECT c.c_name, c.c_custkey, o.o_orderkey,
         |  strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
         |  CAST(o.o_totalprice AS DOUBLE) AS totalprice,
         |  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
         |FROM customer c
         |JOIN orders o ON o.o_custkey = c.c_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey IN (
         |  SELECT l_orderkey FROM lineitem
         |  GROUP BY l_orderkey
         |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > CAST(200 AS DECIMAL(18,2)))
         |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
         |ORDER BY totalprice DESC, o.o_orderkey
         |LIMIT 20""".stripMargin,
    "q_tpch6" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_tpch8" ->
      s"""WITH base AS (
         |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         |    $revenueExpr AS volume,
         |    s.s_nationkey AS supp_nation
         |  FROM part p
         |  JOIN lineitem l ON p.p_partkey = l.l_partkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
         |SELECT o_year,
         |  CAST(CAST(sum(CASE WHEN supp_nation = 1 THEN volume END) AS VARCHAR) AS DOUBLE) /
         |  CAST(CAST(sum(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
         |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_tpch13" ->
      """WITH c_orders AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c.c_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch14" ->
      s"""SELECT
         |  CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO'
         |      THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) *
         |        (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(6,4))) END) AS VARCHAR) AS DOUBLE)
         |    * 100.0 /
         |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
         |    (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE)
         |    AS promo_revenue
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE l.l_shipdate >= TIMESTAMP '1996-09-01' AND l.l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q_tpch15" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s.s_suppkey, s.s_name, r.total_revenue
         |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
         |WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s.s_suppkey""".stripMargin,
    "q_tpch17" ->
      """SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#11' AND p.p_size <= 2
        |  AND l.l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q_tpch19" ->
      """SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(5,4)) - CAST(l.l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch22" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS cntrycode, count(*) AS numcust,
        |  CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c.c_nationkey <= 10
        |  AND c.c_acctbal > (
        |    SELECT CAST(CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / count(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey <= 10)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c.c_nationkey
        |ORDER BY cntrycode""".stripMargin,
    "q_tpch3" ->
      s"""SELECT l_orderkey, o_orderpriority,
         |  CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue,
         |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS odate
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch5" ->
      s"""SELECT n_name, CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE year(o_orderdate) = 1996 AND r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_interval_join" ->
      """WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, signup_id, purchase_id,
        |  CAST(floor(epoch(p_ts)) AS BIGINT) - CAST(floor(epoch(s_ts)) AS BIGINT) AS lag_secs
        |FROM s JOIN p ON s.user_id = p.user_id
        |WHERE p_ts >= s_ts AND p_ts < s_ts + INTERVAL 1 HOUR
        |ORDER BY s.user_id, signup_id, purchase_id""".stripMargin,
    "q_interval_left" ->
      """WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, signup_id, purchase_id,
        |  CAST(floor(epoch(p_ts)) AS BIGINT) - CAST(floor(epoch(s_ts)) AS BIGINT) AS lag_secs
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        |  AND p_ts >= s_ts AND p_ts < s_ts + INTERVAL 1 HOUR
        |ORDER BY s.user_id, signup_id, purchase_id""".stripMargin,
    "q_range_join" ->
      """WITH s AS (SELECT event_id AS signup_id, ts AS s_ts FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT signup_id, purchase_id,
        |  CAST(floor(epoch(p_ts)) AS BIGINT) - CAST(floor(epoch(s_ts)) AS BIGINT) AS dt_secs
        |FROM s, p
        |WHERE abs(CAST(floor(epoch(s_ts)) AS BIGINT) - CAST(floor(epoch(p_ts)) AS BIGINT)) <= 30
        |ORDER BY signup_id, purchase_id""".stripMargin,
    "q_resample" ->
      """WITH e AS (SELECT * FROM events WHERE user_id < 10),
        |b AS (SELECT date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1 FROM e),
        |u AS (SELECT DISTINCT user_id FROM e),
        |grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM u, b),
        |a AS (SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sv
        |  FROM e GROUP BY 1, 2)
        |SELECT g.user_id, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS h,
        |  coalesce(a.n, 0) AS n, coalesce(a.sv, 0.0) AS sum_value
        |FROM grid g LEFT JOIN a ON g.user_id = a.user_id AND g.hour = a.hour
        |ORDER BY g.user_id, h LIMIT 5000""".stripMargin,
    "q_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, s.s_ts, min(e.ts) AS p_ts FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts GROUP BY 1, 2),
        |j AS (SELECT s.user_id,
        |  CAST(floor(epoch(c.p_ts)) AS BIGINT) - CAST(floor(epoch(c.s_ts)) AS BIGINT) AS secs
        |  FROM s LEFT JOIN c ON s.user_id = c.user_id),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
        |SELECT nu.n_users, count(*) AS n_signup, count(secs) AS n_converted,
        |  CAST(coalesce(sum(secs), 0) AS BIGINT) AS sum_convert_secs
        |FROM j, nu GROUP BY nu.n_users""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS c0 FROM e GROUP BY 1),
        |o AS (SELECT DISTINCT e.user_id, date_diff('day', c.c0, e.d) AS day_offset
        |  FROM e JOIN c ON e.user_id = c.user_id WHERE date_diff('day', c.c0, e.d) <= 14)
        |SELECT CAST(day_offset AS BIGINT) AS day_offset, count(DISTINCT user_id) AS n_users
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scd2" ->
      """WITH dim AS (SELECT user_id, ts AS valid_from, value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version_no,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type = 'signup'),
        |f AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, f.purchase_id,
        |  strftime(f.p_ts, '%Y-%m-%d %H:%M:%S') AS pts,
        |  version_no,
        |  CAST(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS version_value,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM f JOIN dim ON f.user_id = dim.user_id
        |WHERE f.p_ts >= valid_from AND (valid_to IS NULL OR f.p_ts < valid_to)
        |ORDER BY purchase_id""".stripMargin,
    // q_sq8: int8 scalar quantization — per-dim corpus min/max, codes
    // floor((x-mn)/rg*255 + 0.5) (IEEE-correctly-rounded ops only, so
    // both engines produce identical codes), then INTEGER-exact
    // quantized dot-product top-k.
    "q_sq8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM e, (SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS i)
        |  GROUP BY i),
        |s AS (SELECT list(mn ORDER BY i) AS mn,
        |  list(CASE WHEN mx = mn THEN 0 ELSE mx - mn END ORDER BY i) AS rg FROM dims),
        |qe AS (SELECT vec_id, list_transform(range(1, len(v) + 1),
        |    i -> CASE WHEN rg[i] = 0 THEN 0
        |         ELSE CAST(floor((v[i] - mn[i]) / rg[i] * 255 + 0.5) AS BIGINT) END) AS qv
        |  FROM e, s),
        |q AS (SELECT vec_id AS q_id, qv AS qq FROM qe WHERE vec_id < 5),
        |p AS (SELECT q_id, vec_id,
        |  list_sum(list_transform(range(1, len(qq) + 1), i -> qq[i] * qv[i])) AS qscore
        |  FROM qe, q WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, qscore,
        |  row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, vec_id) AS rn FROM p)
        |SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, CAST(qscore AS BIGINT) AS qscore
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "q_sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |p AS (SELECT q_id, vec_id,
        |  list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
        |  (sqrt(list_sum(list_transform(qv, x -> x*x))) * sqrt(list_sum(list_transform(v, x -> x*x)))) AS sim
        |  FROM e, q WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p)
        |SELECT q_id, rn, vec_id, sim FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "q_dedup_first" ->
      """WITH r AS (SELECT user_id, event_type, event_id, ts,
        |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_tpch2" ->
      """SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, l.l_extendedprice AS min_price
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_size < 10
        |  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey, s.s_name, l.l_extendedprice""".stripMargin,
    "q_tpch4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_not_in_naaj" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey % 7 = 0
        |  AND c_custkey NOT IN (
        |    SELECT CASE WHEN o_totalprice > 150000 THEN NULL ELSE o_custkey END
        |    FROM orders WHERE o_custkey % 3 = 0 AND o_totalprice <= 150000)
        |ORDER BY c_custkey""".stripMargin,
    "q_not_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey
        |                    AND l_shipdate < o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_tpch20" ->
      """SELECT s.s_suppkey, s.s_name, s.s_acctbal
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > CAST(50 AS DECIMAL(18,2)))
        |  AND s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey % 5 = 0)
        |ORDER BY s.s_name""".stripMargin,
    // Fixture-backed oracles: DuckDB reads the SAME parquet files Spark
    // wrote at fixture-build time (sources/Fixtures), so binary bytes,
    // nested lists, and extracted features are compared value-for-value.
    "q_media" ->
      s"""SELECT media_id, kind, CAST(octet_length(bytes) AS BIGINT) AS n_bytes,
        |  md5(lower(hex(bytes))) AS content_md5,
        |  meta.width AS width, meta.sample_rate AS sample_rate,
        |  meta.duration_ms AS duration_ms, meta.format AS format
        |FROM read_parquet('${graft.sources.Fixtures.mediaPath}/*.parquet')
        |ORDER BY media_id""".stripMargin,
    // q_audio_adpcm: cross-engine check of the IMA-ADPCM container —
    // DuckDB re-derives the block skeleton arithmetically: n_samples
    // from the fixture's rate x duration, the block count from the
    // 505-samples-per-block layout, and every block's RAW header
    // sample from the planted square+sawtooth formula (block b starts
    // at t = 505*b). A mis-sized block, a wrong fact-chunk count, or a
    // header byte-order bug breaks the hash; nibble-level decode is
    // spec-pinned against an independent reference decoder
    // (MultimodalSpec).
    "q_audio_adpcm" ->
      s"""WITH clips AS (
        |  SELECT media_id,
        |    CAST(16000 AS BIGINT) AS sample_rate,
        |    CAST(16000 * (2000 + (media_id % 5) * 500) // 1000 AS BIGINT) AS n_samples
        |  FROM read_parquet('${graft.sources.Fixtures.mediaAdpcmPath}/*.parquet')),
        |b AS (
        |  SELECT media_id, sample_rate, n_samples,
        |    unnest(range((n_samples + 504) // 505)) AS block_idx
        |  FROM clips),
        |t AS (
        |  SELECT *, block_idx * 505 AS t0,
        |    32 + (media_id % 7) * 8 AS p1,
        |    96 + (media_id % 5) * 32 AS p2
        |  FROM b)
        |SELECT media_id, CAST(block_idx AS BIGINT) AS block_idx,
        |  CAST((CASE WHEN (t0 // p1) % 2 = 0 THEN 6000 ELSE -6000 END)
        |    + ((t0 % p2) * 8000 // p2) - 4000 AS BIGINT) AS header_sample,
        |  n_samples, sample_rate
        |FROM t ORDER BY media_id, block_idx""".stripMargin,
    // q_media_frames: the Spark side re-runs the REAL video pipeline at
    // query time (Y4M demux -> frame select -> PNG still per sample);
    // DuckDB can't encode PNG, so the oracle reads the fixture-time
    // reference parquet written by the same code path (the
    // q_media_resize pattern). Decoded-PIXEL correctness is the next
    // oracle's job, re-derived arithmetically.
    "q_media_frames" ->
      s"""SELECT media_id, frame_idx, offset_ms, frame_len, content_md5
        |FROM read_parquet('${graft.sources.Fixtures.mediaFramesPath}/*.parquet')
        |ORDER BY media_id, frame_idx""".stripMargin,
    // q_video_frames: TRUE cross-engine video-decode check. Spark
    // demuxes the real Y4M bytes and sums each sampled frame's Y/U/V
    // planes; DuckDB re-derives the identical sums from the planted
    // plane formulas (streams are lossless C444 at 5 fps, 128x24 -- the
    // fixture parameters baked into syntheticMedia). Any header,
    // stride, plane-order, or frame-seek bug breaks the hash.
    "q_video_frames" ->
      s"""WITH v AS (SELECT media_id, meta.duration_ms AS dur
        |  FROM read_parquet('${graft.sources.Fixtures.mediaPath}/*.parquet') WHERE kind = 'video'),
        |smp AS (SELECT media_id, unnest(range(0, greatest(1, dur // 1000))) AS i FROM v),
        |f AS (SELECT media_id, i, i * 5 AS fidx FROM smp),
        |px AS (SELECT f.media_id, f.i, f.fidx, xs.x, ys.y
        |  FROM f CROSS JOIN (SELECT unnest(range(0, 128)) AS x) xs
        |         CROSS JOIN (SELECT unnest(range(0, 24)) AS y) ys)
        |SELECT media_id, CAST(i AS BIGINT) AS sample_idx, CAST(fidx AS BIGINT) AS frame_idx,
        |  CAST(sum((x * 7 + y * 13 + media_id * 31 + fidx * 97) % 256) AS BIGINT) AS y_sum,
        |  CAST(sum((x * 3 + y * 5 + media_id * 17 + fidx * 53) % 256) AS BIGINT) AS u_sum,
        |  CAST(sum((x * 11 + y * 2 + media_id * 43 + fidx * 29) % 256) AS BIGINT) AS v_sum
        |FROM px GROUP BY media_id, i, fidx ORDER BY media_id, sample_idx""".stripMargin,
    "q_media_stats" ->
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  min(byte_entropy) AS min_entropy, max(byte_entropy) AS max_entropy
        |FROM read_parquet('${graft.sources.Fixtures.mediaFeaturesPath}/*.parquet')
        |GROUP BY kind ORDER BY kind""".stripMargin,
    // q_media_resize: the Spark side re-runs the REAL image pipeline at
    // query time (ImageIO decode → nearest-neighbor resample → PNG
    // re-encode); DuckDB can't decode PNG, so the oracle reads the
    // fixture-time reference parquet written by the same code path —
    // byte hashes must match, and pixel correctness is pinned in
    // MultimodalSpec against planted rasters (the q_media_sim pattern).
    "q_media_resize" ->
      s"""SELECT media_id, kind, width, height, n_bytes, content_md5
        |FROM read_parquet('${graft.sources.Fixtures.mediaResizedPath}/*.parquet')
        |ORDER BY media_id""".stripMargin,
    "q_nestsel" ->
      s"""SELECT CAST(identifier AS BIGINT) AS identifier, collection,
        |  CAST(len(traits) AS BIGINT) AS n_traits,
        |  traits[1].trait_type AS first_trait, to_json(traits) AS traits_json
        |FROM read_parquet('${graft.sources.Fixtures.nftPath}/*.parquet')
        |ORDER BY identifier""".stripMargin,
    "q_flatten_intent" ->
      s"""WITH b AS (SELECT identifier,
        |  CASE WHEN traits IS NULL OR len(traits) = 0
        |       THEN [NULL::STRUCT(trait_type VARCHAR, "value" VARCHAR)]
        |       ELSE traits END AS tr
        |  FROM read_parquet('${graft.sources.Fixtures.nftPath}/*.parquet')),
        |e AS (SELECT identifier, unnest(tr) AS t FROM b)
        |SELECT CAST(identifier AS BIGINT) AS identifier,
        |  t.trait_type AS trait_type, t."value" AS "value"
        |FROM e ORDER BY identifier, trait_type""".stripMargin,
    "q_ingest_csv" ->
      s"""SELECT id, name, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, flag
        |FROM read_csv('${graft.sources.Fixtures.csvPath}', header = true,
        |  columns = {'id': 'BIGINT', 'name': 'VARCHAR', 'price': 'DOUBLE',
        |             'ts': 'TIMESTAMP', 'flag': 'BOOLEAN'})
        |ORDER BY id""".stripMargin,
    "q_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
        |  o_orderpriority, o_orderstatus AS status
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_repetition" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT doc_id,
        |  CAST(len(t) - 1 AS BIGINT) AS n_grams2,
        |  CAST(len(list_distinct(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1]))) AS BIGINT) AS n_distinct2,
        |  CAST(len(t) - 2 AS BIGINT) AS n_grams3,
        |  CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT) AS n_distinct3
        |  FROM d)
        |SELECT doc_id, n_grams2, n_distinct2,
        |  CAST(n_grams2 - n_distinct2 AS DOUBLE) / n_grams2 AS rep2,
        |  n_grams3, n_distinct3,
        |  CAST(n_grams3 - n_distinct3 AS DOUBLE) / n_grams3 AS rep3
        |FROM g WHERE n_grams2 > n_distinct2 OR n_grams3 > n_distinct3
        |ORDER BY doc_id""".stripMargin,
    "q_redact" ->
      s"""WITH d AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '${graft.text.TextOps.emailPattern}')) AS BIGINT) AS n_emails,
        |  md5(regexp_replace(text2, '${graft.text.TextOps.emailPattern}', '<EMAIL>', 'g')) AS redacted_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_histogram" ->
      """WITH n AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, n_tok - (n_tok % 20) AS bucket, count(*) AS n_docs,
        |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
        |FROM n GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q_cooccur" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_transform(string_split(text, ' '),
        |    (x, i) -> struct_pack(term := x, pos := i))) AS s FROM documents),
        |e AS (SELECT doc_id, s.term AS term, s.pos AS pos FROM t),
        |p AS (SELECT a.term AS term_a, b.term AS term_b
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id
        |   AND b.pos > a.pos AND b.pos <= a.pos + 2)
        |SELECT term_a, term_b, count(*) AS n FROM p GROUP BY 1, 2
        |ORDER BY n DESC, term_a, term_b LIMIT 50""".stripMargin,
    "q_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_transform(string_split(text, ' '),
        |    (x, i) -> struct_pack(term := x, pos := i))) AS s FROM documents),
        |e AS (SELECT doc_id, s.term AS term, s.pos AS pos FROM t),
        |pr AS (SELECT a.term AS w1, b.term AS w2, count(*) AS n
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |h AS (SELECT w1, CAST(sum(n) AS BIGINT) AS head_total FROM pr GROUP BY 1
        |  HAVING sum(n) >= 50),
        |r AS (SELECT pr.w1, pr.w2, pr.n, h.head_total,
        |  CAST(row_number() OVER (PARTITION BY pr.w1 ORDER BY pr.n DESC, pr.w2) AS BIGINT) AS rnk
        |  FROM pr JOIN h ON pr.w1 = h.w1)
        |SELECT w1, rnk, w2, n, head_total,
        |  CAST(n AS DOUBLE) / CAST(head_total AS DOUBLE) AS p
        |FROM r WHERE rnk <= 3 ORDER BY w1, rnk""".stripMargin,
    "q_inverted" ->
      """WITH e AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM e GROUP BY term HAVING count(*) >= 10 ORDER BY term""".stripMargin,
    "q_phrase_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |ph AS (SELECT DISTINCT t[1] || ' ' || t[2] || ' ' || t[3] AS phrase,
        |  t[1] AS w0, t[2] AS w1, t[3] AS w2
        |  FROM (SELECT * FROM d ORDER BY doc_id LIMIT 5)),
        |pos AS (SELECT doc_id, unnest(t) AS term,
        |  unnest(range(0, len(t))) AS pos FROM d),
        |m0 AS (SELECT phrase, doc_id, pos FROM pos JOIN ph ON term = w0),
        |m1 AS (SELECT phrase, doc_id, pos - 1 AS pos FROM pos JOIN ph ON term = w1),
        |m2 AS (SELECT phrase, doc_id, pos - 2 AS pos FROM pos JOIN ph ON term = w2),
        |h AS (SELECT m0.phrase, m0.doc_id, m0.pos FROM m0
        |  JOIN m1 USING (phrase, doc_id, pos) JOIN m2 USING (phrase, doc_id, pos))
        |SELECT phrase, count(*) AS n_matches, count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM h GROUP BY phrase ORDER BY phrase""".stripMargin,
    // fixed-point micro-nat surprisal: floor(1e6·ln + 0.5) as BIGINT, summed
    // exactly — see TextOps.qPerplexity for the cross-engine ln analysis
    "q_perplexity" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_transform(string_split(text, ' '),
        |    (x, i) -> struct_pack(term := x, pos := i))) AS s FROM documents),
        |e AS (SELECT doc_id, s.term AS term, s.pos AS pos FROM t),
        |tr AS (SELECT * FROM e WHERE doc_id % 7 <> 0),
        |ho AS (SELECT * FROM e WHERE doc_id % 7 = 0),
        |pr AS (SELECT a.term AS w1, b.term AS w2, count(*) AS n
        |  FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |h AS (SELECT w1, CAST(sum(n) AS BIGINT) AS head_total FROM pr GROUP BY 1),
        |v AS (SELECT count(DISTINCT term) AS v FROM tr),
        |bg AS (SELECT a.doc_id, a.term AS w1, b.term AS w2
        |  FROM ho a JOIN ho b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |sc AS (SELECT bg.doc_id, COALESCE(pr.n, 0) AS n0,
        |  COALESCE(h.head_total, 0) AS h0, v.v AS v
        |  FROM bg LEFT JOIN pr ON bg.w1 = pr.w1 AND bg.w2 = pr.w2
        |  LEFT JOIN h ON bg.w1 = h.w1 CROSS JOIN v),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN n0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CAST(floor(1e6 * ln(CAST(h0 + v AS DOUBLE) / CAST(n0 + 1 AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS nll_unats
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_oov, nll_unats,
        |  CAST(nll_unats AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS mean_nll_unats
        |FROM g ORDER BY doc_id""".stripMargin,
    // d=4 × w=4096 deterministic count-min: ONE md5 per gram, row r's
    // bucket = hex chars [1+3r, 3+3r) of the digest — Spark parses with
    // conv(), DuckDB with CAST('0x'||…); same integer either way
    "q_cms" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_transform(string_split(text, ' '),
        |    (x, i) -> struct_pack(term := x, pos := i))) AS s FROM documents),
        |e AS (SELECT doc_id, s.term AS term, s.pos AS pos FROM t),
        |tok AS (SELECT a.term || ' ' || b.term || ' ' || c.term AS gram
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN e c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |rw AS (SELECT unnest(range(0, 4)) AS r),
        |hx AS (SELECT r,
        |  CAST('0x' || substr(md5('cms:' || gram), CAST(1 + 3 * r AS INTEGER), 3) AS BIGINT) AS bucket
        |  FROM tok CROSS JOIN rw),
        |sk AS (SELECT r, bucket, count(*) AS cnt FROM hx GROUP BY 1, 2),
        |ex AS (SELECT gram, count(*) AS exact_n FROM tok GROUP BY 1
        |  ORDER BY exact_n DESC, gram LIMIT 50),
        |pb AS (SELECT ex.gram, ex.exact_n, rw.r,
        |  CAST('0x' || substr(md5('cms:' || ex.gram), CAST(1 + 3 * rw.r AS INTEGER), 3) AS BIGINT) AS bucket
        |  FROM ex CROSS JOIN rw)
        |SELECT pb.gram, pb.exact_n, min(sk.cnt) AS cms_n
        |FROM pb JOIN sk ON pb.r = sk.r AND pb.bucket = sk.bucket
        |GROUP BY 1, 2 ORDER BY exact_n DESC, gram""".stripMargin,
    "q_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |n AS (SELECT doc_id, t, len(t) AS n FROM d),
        |c AS (SELECT doc_id, t, n, unnest(range(0,
        |  CAST(greatest(floor((n - 64 + 47) / 48.0) + 1, 1) AS BIGINT))) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start,
        |  least(64, n - chunk_idx * 48) AS chunk_len,
        |  array_to_string(t[CAST(chunk_idx * 48 + 1 AS BIGINT):CAST(chunk_idx * 48 + 64 AS BIGINT)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_skew_join" ->
      s"""SELECT f.k, count(*) AS n,
        |  CAST(CAST(sum(CAST(f.v AS DECIMAL(12,2)) * CAST(d.weight AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_vw
        |FROM read_parquet('${graft.sources.Fixtures.skewFactPath}/*.parquet') f
        |JOIN read_parquet('${graft.sources.Fixtures.skewDimPath}/*.parquet') d USING (k)
        |GROUP BY f.k ORDER BY f.k""".stripMargin,
    // q_bloom_join: the bloom prune is a SUPERSET filter and the exact
    // join removes its false positives, so the oracle is the plain
    // unpruned join — a bloom that dropped a true key (false negative)
    // or a prune that leaked into the result breaks the hash.
    "q_bloom_join" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_items,
        |  CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '2000-01-01'
        |GROUP BY 1 ORDER BY order_month""".stripMargin,
    "q_substr_corpus" -> {
      val l = graft.text.SubstringDedup.MinRun
      val cap = graft.text.SubstringDedup.HotAnchorCap
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(t) - $l + 1)) AS pos, t FROM d),
        |gr AS MATERIALIZED (SELECT doc_id, pos,
        |  CAST(('0x' || substr(md5(array_to_string(t[CAST(pos + 1 AS BIGINT):CAST(pos + $l AS BIGINT)], ' ')), 1, 15)) AS BIGINT) AS h FROM g),
        |hot AS (SELECT h FROM gr GROUP BY h HAVING count(*) > $cap),
        |cold AS MATERIALIZED (SELECT gr.* FROM gr ANTI JOIN hot USING (h)),
        |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa, x.pos - y.pos AS diag
        |  FROM cold x JOIN cold y ON x.h = y.h AND x.doc_id < y.doc_id),
        |r AS (SELECT doc_a, doc_b, diag, pa,
        |  pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp FROM p),
        |runs AS (SELECT doc_a, doc_b, CAST(count(*) + ${l - 1} AS BIGINT) AS run_len
        |  FROM r GROUP BY doc_a, doc_b, diag, grp)
        |SELECT doc_a, doc_b, max(run_len) AS max_run, count(*) AS n_runs
        |FROM runs GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_substring_dup" -> {
      val l = graft.text.SubstringDedup.MinRun
      val cap = graft.text.SubstringDedup.HotAnchorCap
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM read_parquet('${graft.sources.Fixtures.substrPath}/*.parquet')),
        |g AS (SELECT doc_id, unnest(range(0, len(t) - $l + 1)) AS pos, t FROM d),
        |gr AS MATERIALIZED (SELECT doc_id, pos,
        |  CAST(('0x' || substr(md5(array_to_string(t[CAST(pos + 1 AS BIGINT):CAST(pos + $l AS BIGINT)], ' ')), 1, 15)) AS BIGINT) AS h FROM g),
        |hot AS (SELECT h FROM gr GROUP BY h HAVING count(*) > $cap),
        |cold AS MATERIALIZED (SELECT gr.* FROM gr ANTI JOIN hot USING (h)),
        |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa, x.pos - y.pos AS diag
        |  FROM cold x JOIN cold y ON x.h = y.h AND x.doc_id < y.doc_id),
        |r AS (SELECT doc_a, doc_b, diag, pa,
        |  pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp FROM p),
        |runs AS (SELECT doc_a, doc_b, CAST(count(*) + ${l - 1} AS BIGINT) AS run_len
        |  FROM r GROUP BY doc_a, doc_b, diag, grp)
        |SELECT doc_a, doc_b, max(run_len) AS max_run, count(*) AS n_runs
        |FROM runs GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_bpe_encode" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(v.n_sub) AS BIGINT) AS n_subwords
        |FROM w JOIN read_parquet('${graft.sources.Fixtures.bpeVocabPath}/*.parquet') v USING (word)
        |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,
    // Full SQL replay of BPE training, generated per round: the current
    // tokenization is a doubled-separator symbol string (' a  b  c '),
    // so `replace(w, ' a  b ', ' ab ')` is exactly the
    // leftmost-non-overlapping merge (consecutive occurrences share one
    // space of the double gap, so both sides keep the invariant).
    // MATERIALIZED stops DuckDB inlining the chained CTEs (w_r
    // references m_r three times — inlined, the tree grows 4^K).
    "q_bpe_train" -> {
      val ctes = Seq.newBuilder[String]
      val sels = Seq.newBuilder[String]
      ctes += ("v0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word)")
      ctes += "w0 AS MATERIALIZED (SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS w, cnt FROM v0)"
      for (r <- 1 to graft.text.TrainPrep.bpeTrainRounds) {
        val p = r - 1
        ctes += (s"m$r AS MATERIALIZED (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c " +
          s"FROM (SELECT unnest(s[1:len(s)-1]) AS a, unnest(s[2:len(s)]) AS b, cnt " +
          s"FROM (SELECT string_split(trim(w), '  ') AS s, cnt FROM w$p) WHERE len(s) > 1) " +
          s"GROUP BY a, b ORDER BY c DESC, a, b LIMIT 1)")
        ctes += (s"w$r AS MATERIALIZED (SELECT replace(w, ' ' || (SELECT a FROM m$r) || '  ' || (SELECT b FROM m$r) || ' ', " +
          s"' ' || (SELECT a FROM m$r) || (SELECT b FROM m$r) || ' ') AS w, cnt FROM w$p)")
        sels += s"SELECT CAST($r AS BIGINT) AS rank, a AS lhs, b AS rhs, c AS freq FROM m$r"
      }
      "WITH " + ctes.result().mkString(",\n") + "\n" +
        sels.result().mkString(" UNION ALL ") + " ORDER BY rank"
    },
    "q_snapshot_diff" ->
      s"""WITH v2 AS (
        |  SELECT doc_id, source, CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + ${graft.etl.Snapshot.addedIdOffset}, source, 'new ' || text
        |  FROM documents WHERE doc_id % 29 = 0),
        |a AS (SELECT doc_id, source AS src1, md5(text) AS fp1 FROM documents),
        |b AS (SELECT doc_id, source AS src2, md5(text) AS fp2 FROM v2),
        |st AS (SELECT coalesce(src1, src2) AS source, doc_id,
        |  CASE WHEN fp1 IS NULL THEN 'added' WHEN fp2 IS NULL THEN 'removed'
        |       WHEN fp1 <> fp2 THEN 'changed' ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT source, status, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM st GROUP BY source, status ORDER BY source, status""".stripMargin,
    // q_time_travel: the oracle recomputes every ledger version from
    // the raw corpus + the same deterministic changesets (v1 = the
    // snapshot-v2 rules; v2 = delete %19==2 / " [rev3]" upserts %11==5
    // / +2e9 inserts %31==0), and v3 must equal v2 — compaction
    // preserving logical version identity is part of the hash.
    // Checksums sum into HUGEINT and reduce mod 1e18 (Spark mirrors in
    // decimal(38,0)).
    "q_time_travel" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0),
        |all_v AS (
        |  SELECT 0 AS version, * FROM v0
        |  UNION ALL SELECT 1, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v2)
        |SELECT CAST(version AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum
        |FROM all_v GROUP BY version ORDER BY version""".stripMargin,
    // q_ledger_changes: the oracle recomputes the adjacent-version
    // change feed by full-outer diffing the logically recomputed
    // versions (same v0/v1/v2 CTEs as q_time_travel) — and emits
    // NOTHING for the 2→3 compaction pair, so any row the engine's
    // manifest-diff CDF produced for a pure layout rewrite would break
    // the compare. Post-image fingerprint (pre-image for deletes) via
    // the shared 15-hex md5→BIGINT scheme.
    "q_ledger_changes" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0),
        |d01 AS (
        |  SELECT 0 AS from_v, 1 AS to_v,
        |    CASE WHEN a.doc_id IS NULL THEN 'insert'
        |         WHEN b.doc_id IS NULL THEN 'delete' ELSE 'update' END AS op,
        |    COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(('0x' || substr(md5(COALESCE(b.text, a.text)), 1, 15)) AS BIGINT) AS text_fp
        |  FROM v0 a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id
        |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
        |     OR a.text IS DISTINCT FROM b.text
        |     OR a.source IS DISTINCT FROM b.source),
        |d12 AS (
        |  SELECT 1 AS from_v, 2 AS to_v,
        |    CASE WHEN a.doc_id IS NULL THEN 'insert'
        |         WHEN b.doc_id IS NULL THEN 'delete' ELSE 'update' END AS op,
        |    COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(('0x' || substr(md5(COALESCE(b.text, a.text)), 1, 15)) AS BIGINT) AS text_fp
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
        |     OR a.text IS DISTINCT FROM b.text
        |     OR a.source IS DISTINCT FROM b.source)
        |SELECT * FROM d01 UNION ALL SELECT * FROM d12""".stripMargin,
    // q_ledger_replicate: a replica bootstrapped from v0 and fed by
    // the CDF stream (net per-key reduction + exactly-once merges)
    // must converge to the upstream logical head — the same v0/v1/v2
    // recomputation, audited as one (n_rows, key_sum, text_fp_sum)
    // row. A stale op winning the net-reduction, a skipped version,
    // or a double-applied batch each shift the checksum.
    "q_ledger_replicate" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum
        |FROM v2""".stripMargin,
    // q_ledger_occ: two writers prepared against one base (which
    // carries a pending deletion vector), the loser REBASED — the head
    // must hold BOTH writers' edits, none of the vector's deleted rows,
    // and sit at version 3 (create + delete + two serialized commits).
    // The oracle recomputes the head logically: corpus minus %7==3,
    // with the smallest/largest surviving keys' texts tag-prefixed.
    "q_ledger_occ" ->
      """WITH live AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 7 <> 3),
        |ends AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM live),
        |head AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id = (SELECT mn FROM ends) THEN 'occA ' || text
        |         WHEN doc_id = (SELECT mx FROM ends) THEN 'occB ' || text
        |         ELSE text END AS text
        |  FROM live)
        |SELECT CAST(3 AS BIGINT) AS n_versions,
        |  count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum
        |FROM head""".stripMargin,
    // q_ledger_incr_agg: a per-source materialized view maintained
    // INCREMENTALLY from the full (pre-image) change feed must equal
    // a from-scratch recomputation of the head — v2's per-source doc
    // counts and content-fingerprint checksums (v3 is a compaction and
    // must contribute nothing). A dropped pre-image (update
    // double-counted) or sign error shifts the checksum.
    "q_ledger_incr_agg" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum
        |FROM v2 GROUP BY source ORDER BY source""".stripMargin,
    // q_ledger_incr_join: a JOIN view over two independently-committing
    // ledger tables, maintained incrementally from BOTH change feeds
    // (fact partials per (k, source) from the docs feed; signed
    // (multiplicity, weight) deltas from the dim feed), must equal the
    // from-scratch head join: docs@v2 ⋈ dims@v2 per k = doc_id%5. The
    // dim head: weight = 7·len+3 (+11 where the first codepoint is
    // even), minus the lexicographically smallest source (deleted at
    // dim v2 — its docs must contribute NOTHING).
    "q_ledger_incr_join" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0),
        |dims AS (
        |  SELECT source,
        |    CAST(length(source) * 7 + 3
        |      + CASE WHEN ascii(substr(source, 1, 1)) % 2 = 0 THEN 11 ELSE 0 END AS BIGINT) AS weight
        |  FROM (SELECT DISTINCT source FROM documents)
        |  WHERE source <> (SELECT min(source) FROM documents))
        |SELECT CAST(doc_id % 5 AS BIGINT) AS k, count(*) AS n_pairs,
        |  CAST(sum(CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS HUGEINT) * weight)
        |    % 1000000000000000000 AS BIGINT) AS wfp_sum
        |FROM v2 JOIN dims USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q_ledger_wap: the write-audit-publish head — corpus ∪ the good
    // branch's published %37==0 clones ("wap " prefix, +4e9 keys), at
    // exactly one parent version past create. The dropped bad branch's
    // empty-text upserts must be absent (they'd shift both the row
    // count and the fingerprint checksum).
    "q_ledger_wap" ->
      """WITH head AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000000, 'wap ' || text FROM documents WHERE doc_id % 37 = 0)
        |SELECT CAST(1 AS BIGINT) AS n_versions, count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum,
        |  CAST(sum(CASE WHEN doc_id >= 4000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_published
        |FROM head""".stripMargin,
    // q_ledger_rebase: the rebase-then-publish head — corpus with the
    // interleaved direct commit's re-texts, plus the branch's rebased
    // clones; a lost splice on either side breaks the hash
    "q_ledger_rebase" ->
      """WITH head AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 29 = 0 THEN 'main ' || text ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000000, 'rebase ' || text FROM documents WHERE doc_id % 37 = 0)
        |SELECT CAST(2 AS BIGINT) AS n_versions, count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum,
        |  CAST(sum(CASE WHEN doc_id >= 5000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rebased,
        |  CAST(sum(CASE WHEN text LIKE 'main %' THEN 1 ELSE 0 END) AS BIGINT) AS n_main
        |FROM head""".stripMargin,
    // q_ledger_binpack: the bin-packed head carries exactly the
    // lineage's logical content — base corpus + both frontier insert
    // batches; a rewrite drop/dup or a lost carried file breaks the hash
    "q_ledger_binpack" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |head AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 3000000000, 'bp1 ' || text FROM base WHERE doc_id % 23 = 1
        |  UNION ALL
        |  SELECT doc_id + 4000000000, 'bp2 ' || text FROM base WHERE doc_id % 31 = 2)
        |SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS text_fp
        |FROM head ORDER BY doc_id""".stripMargin,
    // q_ledger_constraints: the final table is the two VALID merges
    // applied in order; the refused changeset (negative n_chars rows
    // mixed with valid +1 bumps) contributes NOTHING — an enforcement
    // hole on either side breaks the hash
    "q_ledger_constraints" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |v1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 13 = 1 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM base WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, lang, n_chars * 2 FROM base WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 5 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |  FROM v1 WHERE doc_id % 19 <> 2)
        |SELECT doc_id, lang, n_chars FROM v2 ORDER BY doc_id""".stripMargin,
    // q_ledger_stream: the STREAMING CDF consumer must deliver exactly
    // the batch change feed — same logical v0/v1/v2 recomputation as
    // q_ledger_changes, keyed by commit_version instead of the version
    // pair. The oracle emits NOTHING for the compaction version (v3),
    // so a subscriber that saw layout maintenance breaks the hash.
    "q_ledger_stream" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0),
        |d01 AS (
        |  SELECT 1 AS commit_version,
        |    CASE WHEN a.doc_id IS NULL THEN 'insert'
        |         WHEN b.doc_id IS NULL THEN 'delete' ELSE 'update' END AS op,
        |    COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(('0x' || substr(md5(COALESCE(b.text, a.text)), 1, 15)) AS BIGINT) AS text_fp
        |  FROM v0 a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id
        |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
        |     OR a.text IS DISTINCT FROM b.text
        |     OR a.source IS DISTINCT FROM b.source),
        |d12 AS (
        |  SELECT 2 AS commit_version,
        |    CASE WHEN a.doc_id IS NULL THEN 'insert'
        |         WHEN b.doc_id IS NULL THEN 'delete' ELSE 'update' END AS op,
        |    COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(('0x' || substr(md5(COALESCE(b.text, a.text)), 1, 15)) AS BIGINT) AS text_fp
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        |  WHERE a.doc_id IS NULL OR b.doc_id IS NULL
        |     OR a.text IS DISTINCT FROM b.text
        |     OR a.source IS DISTINCT FROM b.source)
        |SELECT * FROM d01 UNION ALL SELECT * FROM d12""".stripMargin,
    // q_ledger_zorder: secondary-dimension range lookup over the
    // z-ordered ledger table (v1 = v0 minus the merge-on-read DELETE
    // event_id%101==7). The oracle recomputes from the raw events
    // table — a manifest stat that wrongly pruned a candidate file, or
    // a deletion vector that failed to hide its keys on the pruned
    // path, breaks the hash. Exact decimal discipline on the double
    // column (ops/Exact.scala).
    "q_ledger_zorder" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 100 AND 120 AND event_id % 101 <> 7
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q_schema_evolution: the oracle recomputes all four versions of
    // the evolution lineage logically — v0 = the 3-column corpus, v1 =
    // the metadata-only ADD COLUMN (same rows, lang NULL), v2 = the
    // backfill merge (lang set for %7==0 survivors, %23==4 deleted,
    // +3e9 inserts born with lang='xx'), v3 = v2 (compaction across the
    // evolution boundary preserves logical identity). n_cols is pinned
    // per version (3 before the evolve commit, 4 after): a reader that
    // failed to apply the sidecar schema — or one that rewrote data for
    // a metadata-only commit — breaks the hash.
    "q_schema_evolution" ->
      """WITH v0 AS (SELECT doc_id, source, text, CAST(NULL AS VARCHAR) AS lang FROM documents),
        |v2 AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END
        |    END AS lang
        |  FROM documents WHERE doc_id % 23 <> 4
        |  UNION ALL
        |  SELECT doc_id + 3000000000, source, 'evo ' || text, 'xx'
        |  FROM documents WHERE doc_id % 41 = 0),
        |all_v AS (
        |  SELECT 0 AS version, 3 AS n_cols, * FROM v0
        |  UNION ALL SELECT 1, 4, * FROM v0
        |  UNION ALL SELECT 2, 4, * FROM v2
        |  UNION ALL SELECT 3, 4, * FROM v2)
        |SELECT CAST(version AS BIGINT) AS version, CAST(max(n_cols) AS BIGINT) AS n_cols,
        |  count(*) AS n_rows, count(lang) AS n_lang,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum,
        |  CAST(COALESCE(sum(CAST(('0x' || substr(md5(lang), 1, 15)) AS BIGINT)), 0) % 1000000000000000000 AS BIGINT) AS lang_fp_sum
        |FROM all_v GROUP BY version ORDER BY version""".stripMargin,
    // q_deletion_vectors: the oracle recomputes all four versions of
    // the merge-on-read lineage logically — v1 hides %5==2 behind the
    // deletion vector (no files move), v2's merge re-inserts the
    // %10==2 subset (the vector must release those keys), upserts
    // %13==7 / deletes %17==9 among survivors, and inserts +4e9
    // clones; v3 = v2 (compaction materializes the vector away).
    "q_deletion_vectors" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (SELECT * FROM v0 WHERE doc_id % 5 <> 2),
        |v2 AS (
        |  SELECT doc_id, source, 'back ' || text AS text FROM v0 WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 7 THEN text || ' [v2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 5 <> 2 AND NOT (doc_id % 17 = 9 AND doc_id % 13 <> 7)
        |  UNION ALL
        |  SELECT doc_id + 4000000000, source, 'dv ' || text FROM v0 WHERE doc_id % 43 = 0),
        |all_v AS (
        |  SELECT 0 AS version, * FROM v0
        |  UNION ALL SELECT 1, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v2)
        |SELECT CAST(version AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(doc_id) % 1000000000000000000 AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS text_fp_sum
        |FROM all_v GROUP BY version ORDER BY version""".stripMargin,
    // q_ledger_skip: bloom-sidecar point lookup by text over ledger v3
    // (≡ v2, recomputed logically). The lookup texts are those of
    // doc_ids 7/101/263 — untouched by every changeset — plus any
    // other doc sharing the same text; a bloom that wrongly pruned a
    // candidate file would lose rows and break the hash.
    "q_ledger_skip" ->
      """WITH v0 AS (SELECT doc_id, source, text FROM documents),
        |v1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 1 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM v0 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'new ' || text FROM v0 WHERE doc_id % 29 = 0),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [rev3]' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 19 <> 2
        |  UNION ALL
        |  SELECT doc_id + 2000000000, source, 'new2 ' || text FROM v0 WHERE doc_id % 31 = 0)
        |SELECT doc_id, source,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS text_fp
        |FROM v2
        |WHERE text IN (SELECT text FROM documents WHERE doc_id IN (7, 101, 263))""".stripMargin,
    "q_chunk_bpe" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, unnest(t) AS word,
        |  unnest(range(0, len(t))) AS pos FROM d),
        |j AS (SELECT w.doc_id, w.pos, v.n_sub
        |  FROM w JOIN read_parquet('${graft.sources.Fixtures.bpeVocabPath}/*.parquet') v USING (word)),
        |c AS (SELECT doc_id, pos, n_sub, sum(n_sub) OVER
        |  (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cum FROM j)
        |SELECT doc_id,
        |  CAST(floor((cum - n_sub) / ${graft.text.TrainPrep.bpeChunkBudget}.0) AS BIGINT) AS chunk_idx,
        |  count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS sum_subwords,
        |  CAST(min(pos) AS BIGINT) AS first_word, CAST(max(pos) AS BIGINT) AS last_word
        |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_pack_bpe" ->
      s"""WITH w AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |d AS (SELECT source, doc_id, CAST(sum(v.n_sub) AS BIGINT) AS n_tok
        |  FROM w JOIN read_parquet('${graft.sources.Fixtures.bpeVocabPath}/*.parquet') v USING (word)
        |  GROUP BY source, doc_id),
        |c AS (SELECT source, doc_id, n_tok, sum(n_tok) OVER
        |  (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT source, CAST(floor((cum - n_tok) / ${graft.text.TrainPrep.bpePackBudget}.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_subwords,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "q_shard" ->
      """WITH s AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |h AS (SELECT doc_id, n_tok, k,
        |  CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 8 AS shard FROM s)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos,
        |  n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |FROM h ORDER BY shard, pos""".stripMargin,
    // q_shard_write: Spark writes the sharded corpus and aggregates the
    // manifest from the READ-BACK files; DuckDB recomputes the same
    // manifest from the raw documents table — green iff the writer laid
    // down exactly the declared permutation.
    "q_shard_write" ->
      """WITH s AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |h AS (SELECT doc_id, n_tok, k,
        |  CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 8 AS shard FROM s),
        |p AS (SELECT doc_id, n_tok, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos,
        |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM h)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  max(cum_tokens) AS final_cum_tokens,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS perm_check,
        |  CAST(sum(pos * n_tok) AS BIGINT) AS order_tok_check,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    // q_zorder_write: Spark z-order-writes lineitem (Morton key over
    // quantized (l_partkey, shipdate-day), fixed-width prefix buckets)
    // and aggregates the per-bucket manifest from the READ-BACK files;
    // DuckDB recomputes bucket, stats, and z checksum from the raw
    // table — green iff the writer laid down the declared clustering.
    "q_zorder_write" -> {
      val b = graft.ops.ZOrder.Bits
      val shift = 2 * b - graft.ops.ZOrder.BucketBits
      val m = (1L << b) - 1
      val z = (0 until b).map(i =>
        s"((qa >> $i) & 1) * ${1L << (2 * i)} + ((qb >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString("(", " + ", ")")
      s"""WITH li AS (SELECT l_orderkey, l_partkey,
        |  CAST(CAST(l_shipdate AS DATE) - DATE '${graft.ops.ZOrder.Epoch}' AS BIGINT) AS day
        |  FROM lineitem),
        |st AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
        |  min(day) AS mnd, max(day) AS mxd FROM li),
        |q AS (SELECT l_partkey, day,
        |  ((l_partkey - mnp) * $m) // greatest(1, mxp - mnp) AS qa,
        |  ((day - mnd) * $m) // greatest(1, mxd - mnd) AS qb FROM li, st),
        |z AS (SELECT l_partkey, day, $z AS z FROM q)
        |SELECT z >> $shift AS zfile, count(*) AS n,
        |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
        |  min(day) AS min_day, max(day) AS max_day,
        |  CAST(sum(z) AS BIGINT) AS z_sum
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_pack" ->
      s"""WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok, sum(n_tok) OVER
        |  (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT source, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "q_mixture" -> {
      val cases = graft.text.TrainPrep.mixtureWeights.map { case (l, f) =>
        s"WHEN '$l' THEN '${graft.text.TextOps.sampleThreshold(f)}'"
      }.mkString(" ")
      val dflt = graft.text.TextOps.sampleThreshold(graft.text.TrainPrep.mixtureDefault)
      s"""WITH d AS (SELECT lang, doc_id,
        |  CASE lang $cases ELSE '$dflt' END AS thr FROM documents),
        |k AS (SELECT lang, CASE WHEN substring(md5('${graft.text.TrainPrep.mixtureSalt}:' ||
        |  CAST(doc_id AS VARCHAR)), 1, 8) < thr THEN 1 ELSE 0 END AS kept FROM d)
        |SELECT lang, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CAST(sum(kept) AS DOUBLE) / count(*) AS rate
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT doc_id, term, tf, df,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df, term) AS rnk
        |  FROM tf JOIN dfr USING (term))
        |SELECT doc_id, rnk, term, tf, df FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_stratified" ->
      """WITH h AS (SELECT source, doc_id,
        |  substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk FROM documents),
        |r AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk FROM h)
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "q_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |rt AS (SELECT lang, cnt,
        |  sqrt(CAST((SELECT min(cnt) FROM c) AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate FROM c),
        |t AS (SELECT lang, rate,
        |  lpad(lower(to_hex(least(CAST(floor(rate * 4294967296.0) AS BIGINT), 4294967295))), 8, '0') AS thr
        |  FROM rt),
        |k AS (SELECT d.lang, t.rate,
        |  CASE WHEN substring(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        |       THEN 1 ELSE 0 END AS kept
        |  FROM documents d JOIN t ON d.lang = t.lang)
        |SELECT lang, max(rate) AS rate, count(*) AS n_docs,
        |  CAST(sum(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q_quality_gate" ->
      """WITH s AS (SELECT source, doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))
        |    * least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) AS quality
        |  FROM documents),
        |r AS (SELECT source, doc_id, quality,
        |  percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS pr FROM s)
        |SELECT source, count(*) AS n_kept, min(quality) AS worst_kept
        |FROM r WHERE pr <= 0.5 GROUP BY source ORDER BY source""".stripMargin,
    "q_media_sim" ->
      s"""WITH f AS (SELECT media_id, CAST(features AS DOUBLE[]) AS v
         |  FROM read_parquet('${graft.sources.Fixtures.mediaFeaturesPath}/*.parquet')),
         |q AS (SELECT media_id AS q_id, v AS qv FROM f WHERE media_id < 5),
         |p AS (SELECT q_id, f.media_id, ${cosineSqlFor("qv", "v")} AS sim
         |  FROM f, q WHERE f.media_id <> q.q_id),
         |r AS (SELECT q_id, media_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, media_id) AS rn FROM p)
         |SELECT q_id, rn, media_id, sim FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    "q_dist_match" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |b AS (SELECT lang, doc_id, n_tok - (n_tok % 20) AS bucket FROM d),
        |sc AS (SELECT bucket, count(*) AS n_src FROM b WHERE lang = 'en' GROUP BY 1),
        |tc AS (SELECT bucket, count(*) AS n_tgt FROM b WHERE lang = 'fr' GROUP BY 1),
        |ra AS (SELECT sc.bucket, sc.n_src, coalesce(tc.n_tgt, 0) AS n_tgt,
        |  CAST(coalesce(tc.n_tgt, 0) AS DOUBLE) / CAST(sc.n_src AS DOUBLE) AS raw
        |  FROM sc LEFT JOIN tc ON sc.bucket = tc.bucket),
        |rt AS (SELECT bucket, n_src, n_tgt, raw / (SELECT max(raw) FROM ra) AS rate FROM ra),
        |th AS (SELECT bucket, n_src, n_tgt, rate,
        |  lpad(lower(to_hex(least(CAST(floor(rate * 4294967296.0) AS BIGINT), 4294967295))), 8, '0') AS thr
        |  FROM rt),
        |k AS (SELECT th.bucket, th.n_src, th.n_tgt, th.rate,
        |  CASE WHEN substring(md5('dmatch:' || CAST(b.doc_id AS VARCHAR)), 1, 8) < th.thr
        |       THEN 1 ELSE 0 END AS kept
        |  FROM b JOIN th ON b.bucket = th.bucket WHERE b.lang = 'en')
        |SELECT bucket, max(n_src) AS n_src, max(n_tgt) AS n_tgt, max(rate) AS rate,
        |  CAST(sum(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_media_dedup" ->
      s"""WITH m AS (SELECT media_id, bytes
        |  FROM read_parquet('${graft.sources.Fixtures.mediaPath}/*.parquet')),
        |u AS (SELECT media_id, bytes FROM m UNION ALL
        |  SELECT media_id + 10000 AS media_id, bytes FROM m WHERE media_id < 20),
        |f AS (SELECT media_id, md5(hex(bytes)) AS fp FROM u)
        |SELECT fp, count(*) AS n_copies, min(media_id) AS canonical_id,
        |  max(media_id) AS dup_id
        |FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY canonical_id""".stripMargin,
    "q_emb_clusters" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('${graft.sources.Fixtures.embDupPath}/*.parquet')),
        |k AS ($embDupTablesSql),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM k a JOIN k b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |s AS (SELECT id_a, id_b, ea.v AS qv, eb.v AS vv
        |  FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b),
        |p AS (SELECT id_a, id_b FROM s WHERE ${cosineSqlFor("qv", "vv")} >= 0.95),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |  UNION ALL SELECT id_b AS u, id_a AS v FROM p),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u ORDER BY vec_id""".stripMargin,
    "q_emb_dup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('${graft.sources.Fixtures.embDupPath}/*.parquet')),
        |k AS ($embDupTablesSql),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM k a JOIN k b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |s AS (SELECT id_a, id_b, ea.v AS qv, eb.v AS vv
        |  FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b)
        |SELECT id_a, id_b, ${cosineSqlFor("qv", "vv")} AS cos
        |FROM s WHERE ${cosineSqlFor("qv", "vv")} >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS price,
        |  0 AS src, 'K' AS op
        |  FROM orders WHERE o_orderkey % 10 <> 2),
        |delta AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 10 = 1
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(3,2))
        |    ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,4)) END
        |    AS DECIMAL(18,4)) AS price,
        |  1 AS src,
        |  CASE o_orderkey % 10 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op
        |  FROM orders WHERE o_orderkey % 10 < 3),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_orderstatus, op,
        |  CAST(CAST(price AS VARCHAR) AS DOUBLE) AS price
        |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin,
    "q_impute" ->
      """WITH m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END AS v
        |  FROM events),
        |f AS (SELECT *, last_value(v IGNORE NULLS) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff FROM m),
        |u AS (SELECT user_id,
        |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) / count(v) AS u_mean
        |  FROM m GROUP BY user_id)
        |SELECT f.user_id, f.event_id, strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS t,
        |  CAST(f.v IS NULL AS BIGINT) AS was_missing,
        |  coalesce(CAST(CAST(f.ff AS VARCHAR) AS DOUBLE), u.u_mean, 0.0) AS value_filled
        |FROM f JOIN u USING (user_id) ORDER BY user_id, event_id""".stripMargin,
    "q_outliers" ->
      """WITH q AS (SELECT event_type,
        |  quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type),
        |b AS (SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM q)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value > b.hi THEN 'hi' ELSE 'lo' END AS side, b.lo, b.hi
        |FROM events e JOIN b USING (event_type)
        |WHERE e.value < b.lo OR e.value > b.hi
        |ORDER BY e.event_id""".stripMargin,
    "q_khop" ->
      s"""WITH $knnChainSql,
         |knn AS MATERIALIZED (SELECT q_id, vec_id FROM r WHERE rn <= 3),
         |m AS MATERIALIZED (SELECT k1.q_id AS a, k1.vec_id AS b FROM knn k1
         |  JOIN knn k2 ON k1.q_id = k2.vec_id AND k1.vec_id = k2.q_id
         |  WHERE k1.q_id < k1.vec_id),
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM m
         |  UNION ALL SELECT b AS src, a AS dst FROM m),
         |dg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
         |two AS (SELECT DISTINCT e1.src, e2.dst AS dst2
         |  FROM sym e1 JOIN sym e2 ON e1.dst = e2.src WHERE e2.dst <> e1.src),
         |strict AS (SELECT t.src, t.dst2 FROM two t
         |  WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = t.src AND s.dst = t.dst2)),
         |g AS (SELECT src, count(*) AS n_2hop FROM strict GROUP BY src)
         |SELECT g.src AS vec_id, dg.deg, g.n_2hop
         |FROM g JOIN dg USING (src) ORDER BY vec_id""".stripMargin,
    "q_incr_agg" ->
      """WITH k AS (SELECT user_id, CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS d, count(*) AS n,
        |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM k GROUP BY user_id, day ORDER BY user_id, d""".stripMargin,
    "q_leakage_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |rp AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |b AS (SELECT doc_id, rep,
         |  CAST(('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM rp)
         |SELECT doc_id, rep,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_concurrency" ->
      """WITH e AS (SELECT ts, ts + INTERVAL 10 MINUTE AS te FROM events),
        |segs AS (SELECT CAST(ts AS DATE) + CAST(k.k AS INTEGER) AS day,
        |  greatest(ts, CAST(CAST(ts AS DATE) + CAST(k.k AS INTEGER) AS TIMESTAMP)) AS s,
        |  least(te, CAST(CAST(ts AS DATE) + CAST(k.k + 1 AS INTEGER) AS TIMESTAMP)) AS x
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k) k
        |  WHERE CAST(ts AS DATE) + CAST(k.k AS INTEGER) <= CAST(te - INTERVAL 1 MICROSECOND AS DATE)),
        |p AS (SELECT day, s AS t, 1 AS delta FROM segs
        |  UNION ALL SELECT day, x AS t, -1 AS delta FROM segs),
        |sw AS (SELECT day, t, sum(delta) OVER (PARTITION BY day ORDER BY t, delta
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM p),
        |pk AS (SELECT day, CAST(max(run) AS BIGINT) AS peak FROM sw GROUP BY day)
        |SELECT strftime(pk.day, '%Y-%m-%d') AS d, pk.peak,
        |  strftime(min(sw.t), '%Y-%m-%d %H:%M:%S') AS first_peak_t
        |FROM pk JOIN sw ON pk.day = sw.day AND sw.run = pk.peak
        |GROUP BY pk.day, pk.peak ORDER BY d""".stripMargin,
    "q_feature_hash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |h AS (SELECT doc_id, md5('fh:' || w) AS h FROM tok),
        |b AS (SELECT doc_id,
        |  CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 64 AS bin,
        |  CASE WHEN CAST(('0x' || substr(h, 16, 1)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM h)
        |SELECT doc_id, bin, CAST(sum(sgn) AS BIGINT) AS val
        |FROM b GROUP BY doc_id, bin HAVING sum(sgn) <> 0
        |ORDER BY doc_id, bin""".stripMargin,
    "q_ols" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (SELECT *, (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope FROM s)
        |SELECT l_returnflag, n, slope,
        |  (sy - slope*sx)/n AS intercept,
        |  (n*sxy - sx*sy)*(n*sxy - sx*sy)/((n*sxx - sx*sx)*(n*syy - sy*sy)) AS r2
        |FROM t ORDER BY l_returnflag""".stripMargin,
    "q_chisq" ->
      """WITH j AS (SELECT c_mktsegment, o_orderpriority, count(*) AS obs
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_orderpriority),
        |t AS (SELECT *,
        |  CAST(sum(obs) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS row_total,
        |  CAST(sum(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS col_total,
        |  CAST(sum(obs) OVER () AS BIGINT) AS grand_total FROM j),
        |u AS (SELECT *, CAST(row_total*col_total AS DOUBLE)/grand_total AS expected FROM t)
        |SELECT c_mktsegment, o_orderpriority, obs, row_total, col_total, grand_total, expected,
        |  (obs - expected)*(obs - expected)/expected AS contrib
        |FROM u ORDER BY c_mktsegment, o_orderpriority""".stripMargin,
    "q_quantile_sketch" ->
      """WITH b AS (SELECT o_orderpriority,
        |  least(CAST(floor(o_totalprice/9000) AS BIGINT), 63) AS bin FROM orders),
        |h AS (SELECT o_orderpriority, bin, count(*) AS c FROM b GROUP BY o_orderpriority, bin),
        |cm AS (SELECT *,
        |  CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n FROM h),
        |est AS (SELECT o_orderpriority, max(n) AS n,
        |  CAST(min(CASE WHEN cum*2 >= n THEN bin END)*9000 AS DOUBLE) AS est_p50,
        |  CAST(min(CASE WHEN cum*10 >= n*9 THEN bin END)*9000 AS DOUBLE) AS est_p90
        |  FROM cm GROUP BY o_orderpriority),
        |ex AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS exact_p50,
        |  quantile_cont(o_totalprice, 0.9) AS exact_p90 FROM orders GROUP BY o_orderpriority)
        |SELECT est.o_orderpriority, n, est_p50, exact_p50, est_p50 - exact_p50 AS err_p50,
        |  est_p90, exact_p90, est_p90 - exact_p90 AS err_p90
        |FROM est JOIN ex ON est.o_orderpriority = ex.o_orderpriority
        |ORDER BY est.o_orderpriority""".stripMargin,
    "q_expectations" ->
      """SELECT tbl, chk, n_checked, n_violations,
        |  CAST(n_violations = 0 AS BIGINT) AS pass FROM (
        |  SELECT 'orders' AS tbl, 'o_orderkey_unique' AS chk, count(*) AS n_checked,
        |    count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
        |  UNION ALL SELECT 'orders', 'o_totalprice_positive', count(*),
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orders', 'o_orderstatus_enum', count(*),
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orders', 'o_totalprice_le_450k', count(*),
        |    CAST(sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orders', 'o_orderdate_within_horizon', count(*),
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |      OR o_orderdate > TIMESTAMP '2001-06-30 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'lineitem', 'l_quantity_in_1_50', count(*),
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'l_discount_in_0_011', count(*),
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.11 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'l_shipdate_not_null', count(*),
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'lineitem', 'l_orderkey_references_orders', count(*),
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL SELECT 'documents', 'text_nonempty', count(*),
        |    CAST(sum(CASE WHEN length(text) < 1 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'documents', 'n_chars_le_1200', count(*),
        |    CAST(sum(CASE WHEN n_chars > 1200 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'documents', 'lang_allowed', count(*),
        |    CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'events', 'value_not_null', count(*),
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |  UNION ALL SELECT 'events', 'value_lt_256', count(*),
        |    CAST(sum(CASE WHEN value >= 256 THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |) ORDER BY tbl, chk""".stripMargin,
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id AS a_id, label AS a_label, v AS av FROM e WHERE vec_id < 8),
        |p AS (SELECT a_id, a_label, vec_id, label,
        |  CASE WHEN label = a_label THEN 'pos' ELSE 'neg' END AS side,
        |  list_sum(list_transform(range(1, len(av)+1), i -> av[i]*v[i])) /
        |  (sqrt(list_sum(list_transform(av, x -> x*x))) * sqrt(list_sum(list_transform(v, x -> x*x)))) AS sim
        |  FROM e, a WHERE vec_id <> a_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY a_id, side ORDER BY sim DESC, vec_id) AS rn FROM p)
        |SELECT a_id, a_label, side, rn, vec_id, label, sim
        |FROM r WHERE rn <= 3 ORDER BY a_id, side, rn""".stripMargin,
    "q_top_p" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |cn AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
        |t AS (SELECT *,
        |  CAST(sum(c) OVER (PARTITION BY lang ORDER BY c DESC, w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS total FROM cn)
        |SELECT lang, w, c, cum, CAST(cum AS DOUBLE)/total AS coverage
        |FROM t WHERE (cum - c) * 10 < total * 9 ORDER BY lang, cum""".stripMargin,
    "q_curriculum" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS stage
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_attribution" ->
      """WITH t AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt_ts,
        |  min(CASE WHEN event_type = 'click' THEN ts END)
        |    OVER (PARTITION BY user_id) AS ft_ts
        |  FROM events)
        |SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS t, value,
        |  strftime(lt_ts, '%Y-%m-%d %H:%M:%S') AS last_touch_t,
        |  strftime(ft_ts, '%Y-%m-%d %H:%M:%S') AS first_touch_t,
        |  CAST(lt_ts IS NULL AS BIGINT) AS unattributed
        |FROM t WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin,
    "q_ewma" ->
      """WITH t AS (SELECT user_id, event_id, ts, value,
        |  coalesce(lag(value, 1) OVER w, 0.0) AS v1,
        |  coalesce(lag(value, 2) OVER w, 0.0) AS v2,
        |  coalesce(lag(value, 3) OVER w, 0.0) AS v3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS t, value,
        |  value + v1*0.5 + v2*0.25 + v3*0.125 AS ewma
        |FROM t WHERE user_id < 200 ORDER BY user_id, event_id""".stripMargin,
    "q_zscore" ->
      """WITH s AS (SELECT event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |m AS (SELECT event_type, s1/n AS mean_v, sqrt((s2 - s1*s1/n)/(n-1)) AS sd_v FROM s)
        |SELECT event_id, e.event_type, value, mean_v, sd_v, (value - mean_v)/sd_v AS z
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE user_id < 200 ORDER BY event_id""".stripMargin,
    "q_mmr" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |s AS (SELECT vec_id, v,
        |  list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])) /
        |  (sqrt(list_sum(list_transform(qv, x -> x*x))) * sqrt(list_sum(list_transform(v, x -> x*x)))) AS rel
        |  FROM e, q WHERE vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT 20),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) /
        |  (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS sim
        |  FROM s a, s b WHERE a.vec_id <> b.vec_id),
        |sel(step, id, score, ids) AS (
        |  SELECT 1, c.vec_id, 0.5*c.rel, [c.vec_id]
        |  FROM (SELECT vec_id, rel FROM s ORDER BY rel DESC, vec_id LIMIT 1) c
        |  UNION ALL
        |  SELECT sel.step + 1, cand.vec_id, cand.mmr, list_append(sel.ids, cand.vec_id)
        |  FROM sel, LATERAL (
        |    SELECT c.vec_id,
        |      0.5*c.rel - 0.5*(SELECT max(p.sim) FROM p WHERE p.ia = c.vec_id AND list_contains(sel.ids, p.ib)) AS mmr
        |    FROM s c WHERE NOT list_contains(sel.ids, c.vec_id)
        |    ORDER BY mmr DESC, c.vec_id LIMIT 1
        |  ) cand
        |  WHERE sel.step < 8
        |)
        |SELECT CAST(step AS BIGINT) AS rn, id AS vec_id, score FROM sel ORDER BY rn""".stripMargin,
    "q_bucket_join" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |  CAST(CAST(sum($revenueExpr) AS VARCHAR) AS DOUBLE) AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_compact" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_drift" ->
      """WITH b AS (SELECT event_type,
        |  least(CAST(floor(value/32) AS BIGINT), 15) AS bin,
        |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_a
        |  FROM events),
        |c AS (SELECT event_type, bin,
        |  CAST(sum(is_a) AS BIGINT) AS n_a,
        |  CAST(sum(1 - is_a) AS BIGINT) AS n_b
        |  FROM b GROUP BY event_type, bin),
        |t AS (SELECT *,
        |  CAST(sum(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
        |  CAST(sum(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b FROM c),
        |u AS (SELECT *, CAST((n_a + n_b) * tot_a AS DOUBLE)/(tot_a + tot_b) AS exp_a FROM t)
        |SELECT event_type, bin, n_a, n_b, exp_a,
        |  (n_a - exp_a)*(n_a - exp_a)/exp_a AS drift_contrib
        |FROM u ORDER BY event_type, bin""".stripMargin,
    "q_ab_test" ->
      """WITH g AS (SELECT event_type, value,
        |  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp FROM events),
        |s AS (SELECT event_type,
        |  CAST(sum(grp) AS BIGINT) AS n1, count(*) AS n,
        |  CAST(CAST(sum(CASE WHEN grp = 1 THEN CAST(value AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(sum(CASE WHEN grp = 1 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS q1,
        |  CAST(CAST(sum(CASE WHEN grp = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS s0,
        |  CAST(CAST(sum(CASE WHEN grp = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS q0
        |  FROM g GROUP BY event_type),
        |m AS (SELECT *, n - n1 AS n0, s1/n1 AS m1, s0/(n - n1) AS m0,
        |  (q1 - s1*s1/n1)/(n1 - 1) AS var1,
        |  (q0 - s0*s0/(n - n1))/((n - n1) - 1) AS var0 FROM s)
        |SELECT event_type, n1, n0, m1, m0, m1 - m0 AS lift,
        |  (m1 - m0)/sqrt(var1/n1 + var0/n0) AS t_stat
        |FROM m ORDER BY event_type""".stripMargin,
    "q_bm25" ->
      s"""WITH $bmPostingsCte
         |SELECT doc_id, CAST(sum($bm25USql) AS BIGINT) AS score, count(*) AS n_terms
         |FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), st
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q_rank_fusion" ->
      s"""WITH $bmPostingsCte,
         |p AS (SELECT doc_id,
         |  CAST(sum($bm25USql) AS BIGINT) AS bscore,
         |  CAST(sum($tfidfUSql) AS BIGINT) AS tscore
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), st GROUP BY doc_id),
         |rb AS (SELECT doc_id, rank_b FROM (SELECT doc_id,
         |  row_number() OVER (ORDER BY bscore DESC, doc_id) AS rank_b FROM p) t
         |  WHERE rank_b <= 20),
         |rt AS (SELECT doc_id, rank_t FROM (SELECT doc_id,
         |  row_number() OVER (ORDER BY tscore DESC, doc_id) AS rank_t FROM p) t
         |  WHERE rank_t <= 20)
         |SELECT doc_id,
         |  (CASE WHEN rank_b IS NULL THEN 0
         |        ELSE CAST(floor(1e9 / CAST(60 + rank_b AS DOUBLE)) AS BIGINT) END
         |   + CASE WHEN rank_t IS NULL THEN 0
         |        ELSE CAST(floor(1e9 / CAST(60 + rank_t AS DOUBLE)) AS BIGINT) END) AS rrf,
         |  rank_b, rank_t
         |FROM rb FULL JOIN rt USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q_ndcg" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |tp AS (SELECT q_id, vec_id, $cosineSql AS sim FROM e, q WHERE vec_id <> q_id),
         |tr AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM tp) t
         |  WHERE rn <= 10),
         |bk AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e),
         |qb AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk WHERE vec_id < 5),
         |sp AS (SELECT q_id, bk.vec_id, $cosineSql AS sim
         |  FROM bk JOIN qb USING (bucket) WHERE bk.vec_id <> q_id),
         |sys AS (SELECT q_id, vec_id, rn FROM (SELECT q_id, vec_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM sp) t
         |  WHERE rn <= 10),
         |j AS (SELECT sys.q_id, sys.rn,
         |  CASE WHEN tr.vec_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM sys LEFT JOIN tr ON sys.q_id = tr.q_id AND sys.vec_id = tr.vec_id),
         |g AS (SELECT q_id, count(*) AS n_sys, CAST(sum(hit) AS BIGINT) AS n_hits,
         |  CAST(sum(hit * ([${graft.vector.RetrievalEval.dcgU().mkString(",")}])[rn]) AS BIGINT) AS dcg_u,
         |  COALESCE(max(CASE WHEN hit = 1
         |    THEN ([${graft.vector.RetrievalEval.mrrU().mkString(",")}])[rn] END), 0) AS mrr_u
         |  FROM j GROUP BY q_id)
         |SELECT q_id, n_sys, n_hits, dcg_u,
         |  CAST(dcg_u AS DOUBLE) / CAST(${graft.vector.RetrievalEval.idcgU()} AS DOUBLE) AS ndcg,
         |  mrr_u,
         |  CAST(n_hits AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |FROM g ORDER BY q_id""".stripMargin,
    "q_maxsim" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ds AS (SELECT label AS d_label, vec_id AS d_vec, v FROM (
         |  SELECT label, vec_id, v, row_number() OVER (PARTITION BY label
         |    ORDER BY substring(md5('ms:' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rk
         |  FROM e) t WHERE rk <= 8),
         |qs AS (SELECT label AS q_label, vec_id AS q_vec, v AS qv FROM (
         |  SELECT label, vec_id, v, row_number() OVER (PARTITION BY label
         |    ORDER BY substring(md5('msq:' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id) AS rk
         |  FROM e WHERE label < 2) t WHERE rk <= 4),
         |mx AS (SELECT q_label, d_label, q_vec,
         |  CAST(floor(1e6 * max($cosineSql) + 0.5) AS BIGINT) AS u
         |  FROM ds, qs GROUP BY q_label, d_label, q_vec),
         |sc AS (SELECT q_label, d_label, CAST(sum(u) AS BIGINT) AS score
         |  FROM mx GROUP BY q_label, d_label),
         |r AS (SELECT q_label, d_label, score,
         |  row_number() OVER (PARTITION BY q_label ORDER BY score DESC, d_label) AS rnk FROM sc)
         |SELECT q_label, CAST(rnk AS BIGINT) AS rnk, d_label, score
         |FROM r WHERE rnk <= 5 ORDER BY q_label, rnk""".stripMargin,
    "q_corr" -> corrSql,
    "q_forget" ->
      """WITH tomb AS (SELECT c_custkey, 1 AS del FROM customer WHERE c_custkey % 50 = 0),
        |ca AS (SELECT 'customer' AS tbl,
        |  CAST(sum(CASE WHEN t.del IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN t.del IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN t.del IS NULL THEN c.c_custkey END) AS BIGINT) AS kept_key_sum
        |  FROM customer c LEFT JOIN tomb t ON c.c_custkey = t.c_custkey),
        |oa AS (SELECT 'orders' AS tbl,
        |  CAST(sum(CASE WHEN t.del IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN t.del IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN t.del IS NULL THEN o_orderkey END) AS BIGINT) AS kept_key_sum
        |  FROM orders LEFT JOIN tomb t ON o_custkey = t.c_custkey),
        |odel AS (SELECT o_orderkey, 1 AS del FROM orders JOIN tomb ON o_custkey = tomb.c_custkey),
        |la AS (SELECT 'lineitem' AS tbl,
        |  CAST(sum(CASE WHEN d.del IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN d.del IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN d.del IS NULL THEN l_orderkey * 10 + l_linenumber END) AS BIGINT) AS kept_key_sum
        |  FROM lineitem LEFT JOIN odel d ON l_orderkey = d.o_orderkey)
        |SELECT * FROM ca UNION ALL SELECT * FROM oa UNION ALL SELECT * FROM la
        |ORDER BY tbl""".stripMargin,
    "q_kanon" ->
      """WITH cells AS (SELECT c_mktsegment, c_nationkey, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |pub AS (SELECT c_mktsegment AS qi1, CAST(c_nationkey AS VARCHAR) AS qi2,
        |  CAST(0 AS BIGINT) AS lvl, n, CAST(0 AS BIGINT) AS violates
        |  FROM cells WHERE n >= 10),
        |gen AS (SELECT c_mktsegment AS qi1, '*' AS qi2,
        |  CAST(1 AS BIGINT) AS lvl, CAST(sum(n) AS BIGINT) AS n,
        |  CASE WHEN CAST(sum(n) AS BIGINT) < 10 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS violates
        |  FROM cells WHERE n < 10 GROUP BY 1)
        |SELECT * FROM pub UNION ALL SELECT * FROM gen
        |ORDER BY qi1, lvl, qi2""".stripMargin,
    "q_ingest_orc" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_ooo" ->
      """WITH b AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS tsu,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq,
        |  CAST(('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 1)) AS BIGINT) % 4 AS jit
        |  FROM events),
        |x AS (SELECT event_type, tsu,
        |  max(tsu) OVER (PARTITION BY user_id ORDER BY seq + jit, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM b)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN prev_max > tsu THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  COALESCE(max(CASE WHEN prev_max > tsu THEN prev_max - tsu END), 0) AS max_late_us,
        |  CAST(sum(CASE WHEN prev_max > tsu THEN prev_max - tsu ELSE 0 END) AS BIGINT) AS sum_late_us
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dataset_card" ->
      """WITH d AS (SELECT source, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  md5(text) AS fp FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        |  CAST(count(*) - count(DISTINCT fp) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_share,
        |  CAST(min(n_tok) AS BIGINT) AS min_tok,
        |  CAST(max(n_tok) AS BIGINT) AS max_tok,
        |  CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tok
        |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin,
  )
}
