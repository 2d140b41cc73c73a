package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AUTOMATIC filtered-ANN arm routing — the r11 VERDICT's missing
  * piece: [[VectorOps.knnFiltered]] (post-filter the SHARED trie's
  * probed leaves, escalate shortfalls to exact) and
  * [[KnnPart.knnFilteredPartitioned]] (one standing trie per predicate
  * value) each dominate on a different predicate SHAPE, and until now
  * the arm was the caller's choice.
  *
  * The route derives from the served/escalated split the system
  * already computes — measured EXACTLY, not proxied: one candidate-
  * COUNT pass of the shared arm's probe join (standing index × standing
  * probe relation, no cosine scoring, no heap), memoized per (session,
  * corpus, predicate) like every standing scalar. That pass is the
  * same bounded volume the shared arm's serving join does once
  * (≤ 2·cap candidates per query), so measuring costs less than
  * committing to the wrong arm even once. From it:
  *
  *  - `escalated` — queries whose probed shared-trie leaves hold < k
  *    predicate matches; the shared arm re-ranks each EXACT over the
  *    filtered corpus, costing ~`escalated × nFilt` pairs.
  *  - `pairBudget = n × 2·cap` — the partitioned arm's serving-join
  *    worst case (every query probes ≤ 2 partition-trie leaves, each
  *    ≤ cap under the occupancy rule).
  *
  * Route PARTITIONED iff `escalated × nFilt > pairBudget`: the
  * escalation product only dominates when the predicate is CORRELATED
  * with the hash space (a predicate that IS an embedding region guts
  * the probed leaves for every outside query), which is exactly the
  * shape the per-value trie answers. A mildly-clustered or uncorrelated
  * predicate stays on the shared trie — a second standing index would
  * cost more serving volume than the escalation it saves, and would
  * burn the partition budget ([[KnnPart.partBudget]]). KnnRouterSpec
  * pins both decisions against the measured split AND the cost-based
  * boundary (a cluster predicate whose escalation product is small
  * stays shared — the rule follows cost, not shape).
  *
  * This is the same measure-then-plan move as the arms' internal
  * AQE-style build-side picks: counts on the driver, never data.
  */
object KnnRouter {

  /** A routing decision and the measured scalars that justify it —
    * returned (not just logged) so specs and operators can pin the
    * route against the split it was derived from. */
  final case class Route(arm: String, escalated: Long, nFilt: Long,
      n: Long, pairBudget: Long) {
    def partitioned: Boolean = arm == "partitioned"
  }

  /** Measure the predicate's served/escalated split on the SHARED
    * standing index and pick the arm. The memo key carries the
    * PREDICATE's canonical SQL alongside the caller's `tag`: a tag is
    * human-chosen, and a caller reusing one under a different predicate
    * must measure ITS OWN split, not silently inherit the other
    * predicate's memoized route (and arm). */
  def routeFiltered(spark: SparkSession, dir: String, pred: Column,
      tag: String, k: Int = 3): Route =
    graft.StandingState.standing(spark, "knn-route", (dir, tag + "|" + pred.toString)) {
      val (emb, p0, maxD) = VectorOps.knnIndexed(spark, dir)
      val queries = VectorOps.knnProbeQueries(spark, dir, emb, p0, maxD)
      val filtered = emb.filter(pred).select(col("bucket"), col("vec_id").as("c_id"))
      // the EXACT split the shared arm would serve under: candidates in
      // the query's own + flip leaves, self excluded, counted — the
      // knnFiltered `nc >= k` rule without the cosine/heap tail
      val nServed = queries.join(filtered, Seq("bucket"))
        .filter(col("c_id") =!= col("q_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("nc"))
        .filter(col("nc") >= k).count()
      val n = VectorOps.embCount(spark, dir)
      val nFilt = filtered.count()
      val (escalated, pairBudget) = (n - nServed, n * 2L * VectorOps.KnnCapOcc)
      val arm =
        if (escalated * nFilt > pairBudget) "partitioned" else "shared"
      Route(arm, escalated, nFilt, n, pairBudget)
    }

  /** Corpus-wide top-k under `pred`, with the ARM CHOSEN BY THE ROUTER:
    * the per-value trie when the measured split says the predicate is
    * hash-correlated (and a partition key is available to build it on),
    * the shared trie otherwise. `partKey` names the predicate's value
    * on the index's partition column when `pred` IS a partition-key
    * equality — a generic predicate (no per-value trie possible) always
    * serves from the shared arm, whatever the split says: correct, if
    * slower; never an error. */
  def knnFilteredRouted(spark: SparkSession, dir: String, pred: Column,
      tag: String, partKey: Option[Int], k: Int): DataFrame =
    partKey match {
      case Some(v) if routeFiltered(spark, dir, pred, tag, k).partitioned =>
        KnnPart.knnFilteredPartitioned(spark, dir, v, k)
      case _ => VectorOps.knnFiltered(spark, dir, pred, k)
    }

  // ---- the declared fixture + query ----

  /** The router FIXTURE corpus: 12000 unit vectors where label 7 IS a
    * tight embedding cluster (2400 members, σ = 0.05 — decisively
    * hash-correlated: nearly every out-cluster query's probed leaves
    * are label-7-dry, so the escalation product dwarfs the pair
    * budget) and labels 0–6 are uniform on the sphere. The DECLARED
    * corpora can't serve this role: their labels are only weakly
    * clustered (mean cosine-to-centroid ≈ 0.14), so BOTH declared
    * shapes would route shared and the partitioned arm would never be
    * exercised under the oracle gate. The fixture pins one decisively
    * correlated and one uncorrelated shape at EVERY gate — corpus dial
    * (6, 14), partition dial (4, 12), so the arms genuinely diverge
    * and the hash check catches a wrong route at the gate corpus
    * itself, not only at scaled spot-checks. Deterministic (seeded),
    * written once under the fixture root. */
  val fixturePath = s"${graft.sources.Fixtures.dir}/router"

  def fixtureDir(spark: SparkSession): String =
    graft.StandingState.standing(spark, "knn-router-fixture", fixturePath) {
      val marker = new java.io.File(s"$fixturePath/embeddings.parquet/_SUCCESS")
      if (!marker.exists()) {
        val rnd = new scala.util.Random(31)
        def unit(v: Array[Double]): Array[Double] = {
          val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
        }
        val hot = unit(Array.fill(64)(rnd.nextGaussian()))
        val rows = (0 until 12000).map { i =>
          if (i < 2400)
            (i.toLong, unit(hot.map(_ + rnd.nextGaussian() * 0.05))
              .map(_.toFloat).toSeq, 7)
          else
            (i.toLong, unit(Array.fill(64)(rnd.nextGaussian()))
              .map(_.toFloat).toSeq, i % 7)
        }
        import spark.implicits._
        rows.toDF("vec_id", "embedding", "label")
          .repartition(4)
          .write.mode("overwrite").parquet(s"$fixturePath/embeddings.parquet")
      }
      fixturePath
    }

  /** Q-knn-routed: the router exercised on BOTH shapes in one query —
    * `label = 7` (tight cluster: routes to the per-value trie) and
    * `vec_id % 2 = 0` (uncorrelated: every leaf keeps ~half its
    * occupancy, escalation ~0, stays on the shared trie). Each branch
    * hash-matches the arm the router picks — the oracle embeds the
    * partition-trie chain for `label7` and the shared-trie chain for
    * `par0`, so a mis-route breaks the gate. The `pred` tag keeps the
    * union's rows attributable. Scale-independent by design (the
    * fixture is the corpus), like every fixture-backed query. */
  def qKnnRouted(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val fd = fixtureDir(spark)
    val b1 = knnFilteredRouted(spark, fd, col("label") === 7, "label7", Some(7), k)
      .withColumn("pred", lit("label7"))
    val b2 = knnFilteredRouted(spark, fd, col("vec_id") % 2 === 0, "par0", None, k)
      .withColumn("pred", lit("par0"))
    b1.unionByName(b2)
      .select(col("pred"), col("q_id"), col("rn"), col("vec_id"), col("sim"))
      .orderBy(col("pred"), col("q_id"), col("rn"))
  }

  /** Q-knn-routed-range: the router under a GENERIC predicate —
    * `label BETWEEN 3 AND 5` is not a partition-key equality, so no
    * per-value trie exists and [[knnFilteredRouted]]'s `partKey = None`
    * fallback must serve the SHARED arm whatever the measured split
    * says (r12 VERDICT #3: that fallback was correct but unexercised at
    * the gate). The oracle embeds the shared-trie chain under the range
    * predicate, so a fallback regression — routing a generic predicate
    * at a nonexistent per-value trie, or post-filtering wrongly —
    * breaks the hash. */
  def qKnnRoutedRange(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnFilteredRouted(spark, fixtureDir(spark), col("label").between(3, 5), "range35", None, k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rn"))
}
