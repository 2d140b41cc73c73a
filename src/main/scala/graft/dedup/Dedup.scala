package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.TextHashes
import graft.StandingState.CkptOps

/** Near-duplicate detection for LLM-data pipelines over `documents`.
  *
  * MinHash + LSH banding. The hash family (seeded sha256/md5 over
  * shingle strings) is deterministic and mirrored expression-for-
  * expression in the DuckDB oracle, so every step is hash-checkable.
  *
  * Scale shape (the whole point of LSH): signatures are computed in a
  * single narrow scan (no shuffle) by the custom Catalyst expression
  * [[graft.functions.MinhashSlices]]; candidate generation is a shuffle
  * join on (band_idx, band_hash) — expected O(n·dups), never the O(n²)
  * cross join; the exact-jaccard verify runs only on candidate pairs,
  * one JVM pass per pair via [[graft.functions.ShingleJaccard]] (no
  * interpreted higher-order functions anywhere on the path).
  *
  * Ref lineage: the reference dedups requests via deterministic content
  * hashing (`pipeline/utils/cache.py:57-74`) — same idea promoted to
  * document near-dup detection.
  */
object Dedup {
  val ShingleK = 3
  val NumHashes = 16
  val Bands = 4 // 4 bands × 4 rows ⇒ LSH threshold (1/4)^(1/4) ≈ 0.71

  /** Word 3-shingles of the token array (deduplicated set) — the
    * interpreted-HOF reference form; production paths use the custom
    * expressions, and specs pin the equivalence. */
  def shingles(toks: Column): Column = array_distinct(shinglesRaw(toks))

  /** Shingles without dedup — minhash is multiset-invariant (min over
    * duplicates = min over the set), so the signature path skips the
    * array_distinct cost; only exact jaccard needs the set. */
  def shinglesRaw(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - (ShingleK - 1)),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))

  /** One minhash: min over shingles of md5(seed || ':' || shingle). */
  def minhash(sh: Column, seed: Int): Column =
    array_min(transform(sh, s => md5(concat(lit(seed.toString), lit(":"), s))))

  /** Exact shingle-set jaccard between two shingle-array columns (the
    * interpreted reference form of [[graft.functions.ShingleJaccard]]). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      (size(a) + size(b) - size(array_intersect(a, b)))

  /** doc_id → (band_idx, band_hash) rows: the 16-hash signature grouped
    * into 4 bands of 4, each band hashed to a single md5 key.
    *
    * Hash-family economy: sha256 runs twice per shingle, not 16 hash
    * calls. Each 256-bit digest is sliced into eight independent 32-bit
    * (8-hex) hashes; min over fixed-width hex strings equals numeric
    * min. Collision odds per hash ≈ |shingles|/2^32 — negligible, and
    * identical in the DuckDB oracle which mirrors the same slicing.
    * This is the hot path of near-dup at 100 TB: one narrow scan, 2
    * digests/shingle, no shuffle until the band join. */
  def bandedSignatures(docs: DataFrame): DataFrame = {
    val groups = NumHashes / 8 // 8 slices per sha256 digest
    // MinhashSlices is the codegen-adjacent fast path (one JVM loop per
    // doc); the equivalent pure-expression form it must match is
    //   array_min(transform(sh, s -> substring(sha2(concat(j,':',s),256), i*8+1, 8)))
    // and the DuckDB oracle + MinhashSlicesSpec pin that equivalence.
    val sig = docs
      .filter(size(split(col("text"), " ")) >= ShingleK)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(Seq(col("doc_id")) ++ (0 until groups).map(j =>
        graft.functions.MinhashSlices.minhashSlices(col("toks"), j, ShingleK).as(s"m$j")): _*)
      .select(col("doc_id"),
        flatten(array((0 until groups).map(j => col(s"m$j")): _*)).as("sig"))
    val rowsPerBand = NumHashes / Bands
    sig.select(col("doc_id"), posexplode(
        array((0 until Bands).map(b =>
          md5(concat_ws("|", (0 until rowsPerBand).map(r =>
            col("sig").getItem(b * rowsPerBand + r)): _*))): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_hash")
  }

  /** MinHash-verified near-dup pairs, computed on every call and
    * localCheckpointed so every intermediate persist is released before
    * returning (no cache leaks across a long-lived session). */
  def minhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val (pairs, handles) = minhashPairsPipeline(spark, dir, threshold)
    val out = pairs.localCheckpointTracked() // eager: materialize once, then drop upstream caches
    handles.foreach(_.unpersist(blocking = false))
    out
  }

  /** The full (lazy, un-checkpointed) pair pipeline plus its persisted
    * handles — separated out so PlanSpec can audit the physical plan
    * (no interpreted-lambda stage may appear on the verify side). */
  private[graft] def minhashPairsPipeline(spark: SparkSession, dir: String,
      threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val docs = Tables.documents(spark, dir)
    // The band relation feeds both sides of the self-join; without a
    // persist Spark recomputes the signature scan per branch. The
    // persisted form is tiny (doc_id + 2 band columns) at any scale.
    val bands = bandedSignatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val a = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Exact verify: token arrays are re-read ONLY for docs that appear
    // in some candidate pair (LSH keeps that set ~|near-dups|, not
    // |corpus|) — the corpus streams through a broadcast semi-join on
    // the tiny candidate-id list, no corpus shuffle. ShingleJaccard
    // then computes the exact distinct-shingle-set jaccard in one JVM
    // pass per pair — no interpreted lambda anywhere on the path.
    val candDocs = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val candToks = docs
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = candidates
      .join(candToks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(candToks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextHashes.shingleJaccard(col("toks_a"), col("toks_b"), ShingleK).as("jac"))
      .filter(col("jac") >= threshold)
    (pairs, Seq(bands, candidates, candToks))
  }

  /** Declared query: MinHash-LSH near-dup pairs, verified by exact
    * jaccard ≥ threshold. Deterministic (md5/sha2 family) and therefore
    * oracle-checkable. */
  def qMinhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    minhashPairs(spark, dir, threshold).orderBy(col("doc_a"), col("doc_b"))

  /** 16-bit SimHash of the token multiset: bit b carries the majority
    * vote of bit b across per-token md5 hashes (hex digit parity —
    * identical in DuckDB). Near-dup docs land within small hamming
    * distance. Interpreted reference form; production paths use
    * [[graft.functions.Simhash16]] (equivalence pinned by spec). */
  def simhash16(toks: Column): Column = {
    // null tokens are dropped up front (vote AND denominator) so this
    // form agrees with the one-pass expression on hand-built arrays;
    // split() inputs never contain nulls, so the filter is free there
    val hs = transform(filter(toks, t => t.isNotNull), t => md5(t))
    val hex = lit("0123456789abcdef")
    (0 until 16).map { b =>
      val ones = aggregate(hs, lit(0L),
        (acc, h) => acc + (instr(hex, substring(h, b + 1, 1)) - 1) % 2)
      when(ones * 2 > size(hs), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Interpreted twin of [[graft.functions.Simhash64]]: bit b
    * (0 ≤ b < 64) carries the majority vote of bit (b div 16) of hex
    * digit (b mod 16) across per-token md5 hashes — four bits mined
    * from each of the first 16 hex digits. Oracle-mirrorable with
    * string ops; equivalence to the one-pass expression is pinned in
    * TextDedupVectorSpec. */
  def simhash64(toks: Column): Column = {
    // null tokens dropped up front — same contract as Simhash64 / simhash16
    val hs = transform(filter(toks, t => t.isNotNull), t => md5(t))
    val hex = lit("0123456789abcdef")
    (0 until 64).map { b =>
      val p = b % 16
      val k = b / 16
      val ones = aggregate(hs, lit(0L),
        (acc, h) => acc +
          shiftright(instr(hex, substring(h, p + 1, 1)) - 1, k).bitwiseAND(lit(1)))
      when(ones * 2 > size(hs), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Per-doc SimHash values on a 1-in-10 sample (the per-doc signature
    * itself is the oracle-checked artifact). */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), TextHashes.simhash16(split(col("text"), " ")).as("simhash"))
      .orderBy(col("doc_id"))
      .limit(300)

  /** 64-bit simhash block layout for the hamming ≤ 3 block-triple
    * scheme: 6 blocks (11,11,11,11,10,10 bits) as (shift, width). */
  private val shBlocks: Seq[(Int, Int)] = {
    val widths = Seq(11, 11, 11, 11, 10, 10)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** CORPUS-WIDE SimHash near-dup pairs: hamming distance (bit_count
    * of xor) ≤ 3 over the 64-bit production fingerprint — the
    * fingerprint width and threshold deployed for web-scale verbatim
    * dedup. Scale-safe shape (the published block-permutation design
    * for 64-bit/hamming-3): split the hash into 6 blocks of 11/10
    * bits; 3 bit errors can corrupt at most 3 blocks, so by pigeonhole
    * any pair within hamming 3 agrees on all blocks of at least one of
    * the C(6,3) = 20 block TRIPLES. Candidates come from an equi-join
    * on (triple_idx, triple_bits) with ~32-bit compound keys — no
    * cross join at any scale, and accidental (dissimilar-doc)
    * candidates shrink as n²/2³²·20. Measured on the ScaleGen ladder:
    * single-16-bit-band keys gave 310 M candidate pairs at sf10 (the
    * synthetic fingerprints cluster); block-triples give 4.4 M with a
    * max bucket of 123. (The earlier 16-bit hash with 4-bit bands was
    * worse still — n²/64 growth, measured super-linear at the sf100
    * probe, and its "pairs" were mostly accidental collisions.) A true
    * near-dup pair matches several triples, hence the distinct before
    * output; identical-fingerprint dup families inherently emit
    * C(family,2) pairs — that is the query's job (pair listing); use
    * dup-cluster queries for the keep-one contract. */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // materialized once per call (r14, guide §5 reuse): the signature
    // table feeds BOTH sides of the banded self-join, and un-materialized
    // each side re-scanned the corpus and re-ran simhash64 over every
    // document — with the planner's not-null filter duplicating the
    // expression once more per side (4 corpus-wide simhash passes per
    // invocation, 2 scans). The checkpoint is fingerprint-sized
    // (doc_id, sh — 16 B/doc); at 100 TB this is the signature table a
    // production dedup materializes before banding anyway.
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), TextHashes.simhash64(split(col("text"), " ")).as("sh"))
      .localCheckpointTracked()
    val tripleKeys = shBlocks.combinations(3).toSeq.map { blks =>
      blks.foldLeft(lit(0L)) { case (acc, (shift, width)) =>
        (acc * (1L << width)) +
          shiftright(col("sh"), shift).bitwiseAND(lit((1L << width) - 1))
      }
    }
    val banded = s.select(col("doc_id"), col("sh"), posexplode(array(tripleKeys: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_bits")
    val a = banded.select(col("band_idx"), col("band_bits"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band_idx"), col("band_bits"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every doc's cluster id converges to the
    * smallest doc_id reachable from it. Driver-coordinated loop (the
    * standard shuffle-join CC — GraphX-free), O(diameter) ≤ maxIter
    * iterations; dup clusters are shallow so this is 2-4 rounds in
    * practice. This is the step that turns pair detection into the
    * dedup deliverable: one canonical doc per duplicate cluster. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialized once: (a) the upstream pair pipeline executes one
    // time, (b) lineage truncates so each iteration plans against
    // checkpointed blocks instead of a growing DAG. The label table
    // holds only docs that appear in some pair — tiny relative to the
    // corpus at any scale.
    val (edges, _) = graft.StandingState.materializeStatsReset(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v"))))
    var (labels, labelsRdd) = graft.StandingState.materializeStatsReset(
      edges.select(col("u")).distinct().withColumn("label", col("u")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // pointer shortcutting folded into the SAME single join: the
      // current label pointers ride as extra (u → label(u)) edges, so
      // each round takes min over neighbor labels AND label(label(u)).
      // Labels only decrease toward the component min and a label is
      // always a same-component node, so the fixpoint is unchanged —
      // and where the graph allows it, label information doubles its
      // reach per round instead of moving one hop. Cost per round
      // stays one join + aggregate (the pointer edges add |labels|
      // rows to a ~2k|labels| edge table).
      val aug = edges.union(labels.select(col("u"), col("label").as("v")))
      val nbrMin = aug.join(labels.withColumnRenamed("u", "v2"), col("v") === col("v2"))
        .groupBy(col("u")).agg(min(col("label")).as("nbr"))
      // ONE action per round (r13): the old label rides through the
      // materialization and the convergence check is counted in the
      // SAME job that materializes the round — the previous shape ran
      // a second join-shuffle job per round just to count changed
      // rows, doubling the per-round job overhead that dominates on
      // shallow graphs (guide §1.2: the loop is driver-coordinated,
      // so per-round job count IS the cost model).
      val nextWide = labels.join(nbrMin, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("old"))
      val nextRdd = nextWide.rdd
      nextRdd.localCheckpoint()
      // indices resolved BY NAME outside the closure (r13 ADVICE): a
      // reordering of the select above must fail loudly here, not
      // silently corrupt the convergence check
      val li = nextWide.schema.fieldIndex("label")
      val oi = nextWide.schema.fieldIndex("old")
      val changed = nextRdd.mapPartitions { it =>
        var c = 0L; it.foreach(r => if (r(li) != r(oi)) c += 1)
        Iterator.single(c)
      }.fold(0L)(_ + _)
      graft.StandingState.trackRdd(nextRdd)
      // rebuild from the checkpointed RDD: stats reset to defaults (see
      // StandingState.materializeStatsReset's scaladoc), old column dropped
      val next = nextWide.sparkSession.createDataFrame(nextRdd, nextWide.schema)
        .select(col("u"), col("label"))
      // free the superseded round's checkpoint blocks — `next` is
      // materialized, nothing references the old labels anymore
      labelsRdd.unpersist(blocking = false)
      labels = next
      labelsRdd = nextRdd
      converged = changed == 0
      iter += 1
    }
    labels.select(col("u").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Declared query: near-dup clusters of the corpus (docs in ≥1
    * MinHash-verified pair, labeled by their cluster's min doc_id).
    * Computes its pairs and its labels on every call. */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClusters(minhashPairs(spark, dir))
      .orderBy(col("doc_id"))

  /** The corpus CC label table as a STANDING index (r13): the label
    * table a 100 TB deployment maintains beside the corpus, which
    * q_leakage_split and q_curate read to map documents to clusters,
    * so neither re-runs the driver-coordinated propagation loop per
    * call. Registered per (session, dir): released with every other
    * standing artifact, rebuilt lazily, never persisted across runs. */
  def corpusClusters(spark: SparkSession, dir: String): DataFrame =
    graft.StandingState.standing(spark, "corpus-clusters", dir)(
      dupClusters(minhashPairs(spark, dir)))

  /** LEAKAGE-SAFE train/val/test split — the assignment unit is the
    * near-dup CLUSTER, not the document: hashing doc_ids independently
    * would put near-duplicates of training documents into the eval
    * split (the classic contamination path benchmark decontamination
    * exists to catch). Every document inherits its cluster
    * representative (min doc_id; singletons represent themselves), and
    * the split is an md5 hash of the REPRESENTATIVE into 80/10/10 —
    * deterministic, rand()-free, reproducible across engines and
    * retries, and constant under re-sharding.
    *
    * Scale shape: the cluster-label table is id-only (docs in ≥1
    * near-dup pair — a small fraction of the corpus) and joins back by
    * doc_id; the hash is a scan-local expression. At 100 TB the labels
    * are the standing artifact [[dupClusters]] already maintains; the
    * split itself adds one broadcast-sized join and zero extra
    * shuffles of the corpus. */
  def qLeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = corpusClusters(spark, dir)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      .withColumn("bucket", pmod(
        conv(substring(md5(concat(lit("split:"), col("rep").cast("string"))), 1, 15), 16, 10)
          .cast("long"), lit(100L)))
      .select(col("doc_id"), col("rep"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL dedup — the daily-delta scenario that dominates real
    * pipeline cost: dedupe NEW documents against the EXISTING corpus
    * without recomputing anything over history. History (doc_id % 5
    * ≠ 0 here; in production a stored band-index table) contributes
    * only its banded signatures and fingerprints; the delta is scanned
    * once for its own signatures; candidates come from the delta×index
    * band equi-join (never delta×history raw); exact verify touches
    * candidate pairs only. Output per delta doc: exact-dup flag
    * (fingerprint match against history) and the smallest near-dup
    * history partner, if any.
    *
    * At 100 TB the band index is a bucketed table the daily job
    * equi-joins against — cost scales with |delta|·dup-density, not
    * |corpus|. */
  def qIncrementalDedup(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val history = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val fp = (d: Column) => md5(lower(trim(regexp_replace(d, "\\s+", " "))))
    // exact: fingerprint join against history. The history fingerprint
    // set is corpus-sized, so before it reaches the exchange we
    // semi-filter it through a bloom filter built over the DELTA's
    // fingerprints (the small side — one extra narrow pass over the
    // delta buys dropping ~all non-matching history rows pre-shuffle;
    // false positives only cost join probes, the join stays exact).
    // At 100 TB this turns the dominant |history| shuffle into
    // |history ∩ delta| + fpp·|history|.
    val deltaBloom = delta.select(fp(col("text")).as("fp"))
      .stat.bloomFilter("fp", 1000000L, 0.01)
    val histFp = history.select(fp(col("text")).as("fp"))
      .filter(graft.functions.Blooms.mightContain(col("fp"), deltaBloom))
      .distinct()
    val exact = delta.select(col("doc_id"), fp(col("text")).as("fp"))
      .join(histFp.withColumn("is_exact_dup", lit(1L)), Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("is_exact_dup"), lit(0L)).as("is_exact_dup"))
    // near: delta signatures × history band index, exact verify on candidates
    val histBands = bandedSignatures(history)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("hist_id"))
    val deltaBands = bandedSignatures(delta)
    val cand = deltaBands.join(histBands, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("hist_id")).distinct()
    val candIds = cand.select(explode(array(col("doc_id"), col("hist_id"))).as("id")).distinct()
    val toks = docs.join(broadcast(candIds), col("doc_id") === col("id"), "left_semi")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val near = cand
      .join(toks.select(col("doc_id"), col("toks").as("t_a")), Seq("doc_id"))
      .join(toks.select(col("doc_id").as("hist_id"), col("toks").as("t_b")), Seq("hist_id"))
      .filter(graft.functions.TextHashes.shingleJaccard(col("t_a"), col("t_b"), ShingleK) >= threshold)
      .groupBy(col("doc_id"))
      .agg(min(col("hist_id")).as("near_dup_of"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("near_dup_of"), lit(-1L)).as("near_dup_of"))
      .orderBy(col("doc_id"))
  }

  /** Persist a corpus' band signatures as the BUCKETED index table the
    * incremental job equi-joins against: bucketed+sorted on the join
    * key, so the (large, historical) index side is read pre-partitioned
    * with NO Exchange — only the small daily delta shuffles. This is
    * the stored-artifact form of [[qIncrementalDedup]]'s history side. */
  def writeBandIndex(history: DataFrame, table: String, buckets: Int = 8): Unit =
    bandedSignatures(history).write.mode("overwrite")
      .bucketBy(buckets, "band_idx", "band_hash")
      .sortBy("band_idx", "band_hash")
      .format("parquet")
      .saveAsTable(table)

  /** Delta near-dup candidates against a persisted band index: one
    * shuffle (the delta), index side Exchange-free (asserted in
    * SkewSpec). */
  def candidatesAgainstIndex(spark: SparkSession, delta: DataFrame,
      indexTable: String): DataFrame = {
    val idx = spark.table(indexTable)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("hist_id"))
    bandedSignatures(delta)
      .join(idx, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("hist_id")).distinct()
  }

  /** Brute-force n-gram (3-shingle) jaccard pairs above a high
    * threshold — the exact (non-LSH) reference answer; O(n²), kept for
    * small-corpus verification and as the oracle-checkable twin of the
    * LSH path. At 100 TB only the LSH variant runs. */
  /** Fixed-count sample size for the brute-force twin: the cartesian is
    * O(NgramSampleK²) = constant at EVERY corpus size (a fractional
    * sample would grow the pair work quadratically with the corpus). */
  val NgramSampleK = 200

  def qNgramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.7): DataFrame = {
    // Hash-rank top-K sample (deterministic, scale-independent count):
    // the brute-force path is O(K²) by design and only exists as the
    // exact twin of the LSH path — its cost is constant at every scale.
    // TakeOrderedAndProject keeps the selection a bounded-heap scan.
    val docs = Tables.documents(spark, dir)
      .orderBy(md5(concat(lit("ngram:"), col("doc_id").cast("string"))), col("doc_id"))
      .limit(NgramSampleK)
      .filter(size(split(col("text"), " ")) >= ShingleK)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val a = docs.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TextHashes.shingleJaccard(col("toks_a"), col("toks_b"), ShingleK).as("jac"))
      .filter(col("jac") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
