package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding subword tokenizer — the missing
  * piece between whitespace token budgets and what an LLM data pipeline
  * actually packs by (subword counts). Ref analogue: the reference
  * counts whitespace tokens only; industrial corpus prep budgets by
  * BPE/WordPiece subwords.
  *
  * Everything here is exactly reproducible:
  *  - TRAIN: classic BPE over a (word, count) vocabulary — repeatedly
  *    merge the most frequent adjacent symbol pair, ties broken
  *    lexicographically, so the merge list is a pure function of the
  *    vocabulary.
  *  - ENCODE: split a word to characters, then repeatedly apply the
  *    LOWEST-RANK merge present (all non-overlapping occurrences,
  *    left to right) until none applies — the standard GPT-2-style
  *    greedy merge order.
  *
  * The merge list is a tiny model artifact (≤ a few hundred rows): at
  * scale it broadcasts with the expression that carries it
  * ([[graft.functions.BpeTokenCount]]) — per-row work is one JVM loop,
  * no shuffle, no UDF.
  */
object Bpe {

  /** Merge one pair everywhere it occurs (non-overlapping, leftmost
    * first) — shared by training and encoding so they cannot drift. */
  def mergePair(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Train `nMerges` BPE merges from a weighted vocabulary. Stops early
    * when no adjacent pair remains. Deterministic: pair counts are
    * exact longs; ties break on (left, right) lexicographic order. */
  def train(wordCounts: Seq[(String, Long)], nMerges: Int): Vector[(String, String)] = {
    var words: Vector[(Vector[String], Long)] = wordCounts.sortBy(_._1)
      .map { case (w, c) => (w.map(_.toString).toVector, c) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val counts = mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), _) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((a, b))
        words = words.map { case (syms, c) => (mergePair(syms, a, b), c) }
        k += 1
      }
    }
    merges.result()
  }

  /** Encode one word with a rank map (merge index = rank; lower merges
    * first). Pure function of (word, ranks). */
  def encode(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))) match {
          case Some(r) if r < bestRank =>
            bestRank = r; bestA = syms(i); bestB = syms(i + 1)
          case _ => ()
        }
        i += 1
      }
      if (bestA == null) done = true
      else {
        syms = mergePair(syms, bestA, bestB)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Number of merges for the corpus artifact: the 31-word driver
    * vocabulary fully merges in ~120 steps; 64 leaves a meaningful
    * spread of 1–4-subword words. */
  val NumMerges = 64

  /** Corpus dirs the merge table / vocab fixture are derived from (the
    * driver's fixed deterministic corpora — TESTDATA.md). The vocab
    * fixture is the distinct-word union across all three so the DuckDB
    * oracle can join it at any gate scale. */
  val corpusDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  val trainDir = "/root/testdata/sf0.01"

  /** Train the merge list from a corpus' word frequencies (one small
    * aggregate; vocabulary collects to the driver — it is the MODEL,
    * not the data: 31 distinct words here, ≤ a few 100k in any real
    * corpus, always a broadcast-sized artifact). */
  def trainFromCorpus(spark: SparkSession, dir: String, nMerges: Int = NumMerges): Vector[(String, String)] = {
    val wc = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    train(wc, nMerges)
  }

  /** DISTRIBUTED BPE TRAINING — the scale path for learning the merge
    * table itself, where [[trainFromCorpus]] is the driver-side twin
    * for broadcast-sized vocabularies. The corpus is touched ONCE (the
    * word-frequency aggregate — the only corpus-scale pass); training
    * then runs entirely on the |vocab|-sized word table: each round
    * re-derives the current tokenization with [[graft.functions.BpeApplyMerges]]
    * (a narrow codegen'd pass replaying the k learned merges), counts
    * adjacent symbol pairs weighted by word frequency (map-side-combined
    * shuffle on the pair key), and takes the argmax via
    * TakeOrderedAndProject — one 1-row driver action per round, the
    * Lloyd/CC coordination pattern. Work is O(|vocab| · K²) total,
    * independent of corpus size after the first aggregate; ties break
    * (-freq, lhs, rhs) so the learned table is a pure function of the
    * corpus, bit-identical to [[train]] and to the DuckDB oracle's
    * staged-CTE replay. */
  def trainDistributed(spark: SparkSession, dir: String,
      nMerges: Int = NumMerges,
      onRound: (Int, Double) => Unit = (_, _) => ()): Vector[(String, String, Long)] = {
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val learned = Vector.newBuilder[(String, String, Long)]
      var sofar = Vector.empty[(String, String)]
      var k = 0
      var exhausted = false
      while (k < nMerges && !exhausted) {
        val roundT0 = System.nanoTime()
        val sy = graft.functions.BpeEncode.bpeApplyMerges(col("word"), sofar)
        val top = vocab
          .select(col("cnt"), sy.as("sy"))
          .filter(size(col("sy")) > 1)
          .select(col("cnt"), explode(zip_with(
            slice(col("sy"), lit(1), size(col("sy")) - 1),
            slice(col("sy"), lit(2), size(col("sy")) - 1),
            (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("freq"))
          .orderBy(col("freq").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val r = top(0)
          val a: String = r.getString(0)
          val b: String = r.getString(1)
          val c: Long = r.getLong(2)
          learned += ((a, b, c))
          sofar = sofar :+ ((a, b))
          onRound(k, (System.nanoTime() - roundT0) / 1e9)
          k += 1
        }
      }
      learned.result()
    } finally vocab.unpersist()
  }

  /** (word, n_sub) rows for every distinct word across the fixed
    * corpora — the oracle-side join table. */
  def vocabRows(spark: SparkSession, merges: Vector[(String, String)]): Seq[(String, Long)] = {
    val ranks = merges.zipWithIndex.toMap
    val words = corpusDirs.flatMap { d =>
      spark.read.parquet(s"$d/documents.parquet")
        .select(explode(split(col("text"), " ")).as("word"))
        .distinct().collect().map(_.getString(0))
    }.distinct.sorted
    words.map(w => (w, encode(w, ranks).length.toLong))
  }

  /** The merge list for queries: read from the fixture parquet (written
    * once by [[graft.sources.Fixtures.ensure]]), a standing artifact of
    * the session (same pattern as ivfCentroids). */
  def merges(spark: SparkSession): Vector[(String, String)] =
    graft.StandingState.standing(spark, "bpe-merges", graft.sources.Fixtures.bpeMergesPath) {
      graft.sources.Fixtures.ensure(spark)
      spark.read.parquet(graft.sources.Fixtures.bpeMergesPath)
        .orderBy("rank").collect()
        .map(r => (r.getString(r.fieldIndex("left")), r.getString(r.fieldIndex("right"))))
        .toVector
    }

  def ranks(spark: SparkSession): Map[(String, String), Int] =
    merges(spark).zipWithIndex.toMap
}
