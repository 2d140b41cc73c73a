package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Ledger

/** Structural laws of the manifest-tracked ledger format — the parts
  * the q_time_travel oracle can't see: copy-on-write at file
  * granularity (merge must NOT rewrite untouched files), manifest-level
  * data skipping, layout-only compaction, and historical versions
  * staying readable after later writes. */
class LedgerSpec extends AnyFunSuite {
  import SparkFixture.{spark, sf}

  private val table = Ledger.tableRoot("ledger_spec")

  private lazy val built: Unit = {
    import spark.implicits._
    val docs = (0L until 400L)
      .map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, table, docs, "doc_id", nFiles = 8)
    // touch ONLY keys 0-49 (one range file of the 8): upsert evens,
    // delete multiples of 10, insert two new keys far right
    val changes = ((0L until 50L by 2).filter(_ % 10 != 0)
        .map(i => (i, "upsert", "srcX", s"edited $i"))
      ++ (0L until 50L by 10).map(i => (i, "delete", "", ""))
      ++ Seq((900L, "upsert", "srcN", "brand new 900"), (901L, "upsert", "srcN", "brand new 901")))
      .toDF("doc_id", "op", "source", "text")
    Ledger.merge(spark, table, 0, changes, "doc_id")
    Ledger.compact(spark, table, 1, "doc_id", nFiles = 2)
  }

  test("merge is copy-on-write: untouched files carry over by reference") {
    built
    val v0 = Ledger.manifest(spark, table, 0).select("path").collect().map(_.getString(0)).toSet
    val v1 = Ledger.manifest(spark, table, 1).select("path").collect().map(_.getString(0)).toSet
    val carried = v0.intersect(v1)
    assert(carried.nonEmpty, "at least the untouched range files must be shared")
    assert(carried.size >= 6, s"change keys 0-49 span ~1 of 8 range files; carried=${carried.size}")
    assert((v1 -- v0).nonEmpty, "the rewritten file(s) must be new")
  }

  test("merge semantics: upserts replace, deletes drop, inserts land") {
    built
    val v1 = Ledger.readVersion(spark, table, 1).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(!v1.contains(0L) && !v1.contains(10L) && !v1.contains(40L), "deletes must drop")
    assert(v1(2L) == (("srcX", "edited 2")), "upsert must replace payload")
    assert(v1(3L) == (("src3", "document body 3")), "untouched row must survive")
    assert(v1(900L) == (("srcN", "brand new 900")), "insert must land")
    assert(v1.size == 400 - 5 + 2) // 400 - deletes(0,10,20,30,40) + 2 inserts
  }

  test("compaction preserves logical version identity and shrinks the layout") {
    built
    val v1 = Ledger.readVersion(spark, table, 1).orderBy("doc_id").collect().toSeq
    val v2 = Ledger.readVersion(spark, table, 2).orderBy("doc_id").collect().toSeq
    assert(v1 == v2, "compact must not change a single row")
    val f1 = Ledger.manifest(spark, table, 1).count()
    val f2 = Ledger.manifest(spark, table, 2).count()
    assert(f2 < f1, s"compaction must reduce file count ($f1 -> $f2)")
  }

  test("time travel: version 0 stays byte-stable through merge and compaction") {
    built
    val v0 = Ledger.readVersion(spark, table, 0)
    assert(v0.count() == 400)
    val r = v0.filter(col("doc_id") === 0L).collect().head
    assert(r.getString(2) == "document body 0", "pre-merge content must survive")
  }

  test("change feed classifies ops from the manifest diff and skips carried files") {
    built
    val cdf = Ledger.readChanges(spark, table, 0, 1, "doc_id")
    val byOp = cdf.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp.getOrElse("delete", 0L) == 5, s"deletes 0/10/20/30/40: $byOp")
    assert(byOp.getOrElse("insert", 0L) == 2, s"inserts 900/901: $byOp")
    // upserts = evens in 0-49 minus multiples of 10 = 25 - 5
    assert(byOp.getOrElse("update", 0L) == 20, s"updates: $byOp")
    // unchanged neighbors inside the rewritten range file (odd keys
    // 1..49) must NOT appear — content compare, not file membership
    assert(cdf.filter(col("doc_id") === 3L).count() == 0)
    val post = cdf.filter(col("doc_id") === 2L).collect().head
    assert(post.getAs[String]("text") == "edited 2", "update carries the post-image")
    val del = cdf.filter(col("doc_id") === 10L).collect().head
    assert(del.getAs[String]("text") == "document body 10", "delete carries the pre-image")
  }

  test("change feed across a compaction is EMPTY — layout rewrites are invisible") {
    built
    assert(Ledger.readChanges(spark, table, 1, 2, "doc_id").count() == 0)
  }

  test("streaming commits are exactly-once: one version per micro-batch, replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = Ledger.tableRoot("ledger_stream_spec")
    val docs = (0L until 100L).map(i => (i, "src", s"body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 4)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = mem.toDS().toDF("doc_id", "source", "text").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ledger_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Ledger.commitBatch(spark, t, id, batch, "doc_id"); ()
      }.start()
    try {
      mem.addData((5L, "src", "edited 5"))
      q.processAllAvailable()
      mem.addData((200L, "src", "brand new 200"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Ledger.latestVersion(spark, t) == 2, "one ledger version per micro-batch")
    val v2 = Ledger.readVersion(spark, t, 2).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2(5L) == "edited 5" && v2(200L) == "brand new 200" && v2.size == 101)
    // REPLAY batch 0 (what the engine does after recovering from a
    // crash between commit and checkpoint): must be a no-op
    val redo = Seq((5L, "src", "edited 5")).toDF("doc_id", "source", "text")
    assert(!Ledger.commitBatch(spark, t, 0L, redo, "doc_id"), "replay must not commit")
    assert(Ledger.latestVersion(spark, t) == 2)
    assert(Ledger.readVersion(spark, t, 2).count() == 101)
    // time travel still addresses the per-batch history
    assert(Ledger.readVersion(spark, t, 1).count() == 100)
    assert(Ledger.readVersion(spark, t, 0)
      .filter(col("doc_id") === 5L).collect().head.getString(2) == "body 5")
  }

  test("full change feed carries pre-images and maintains aggregates incrementally") {
    built
    val full = Ledger.readChangesFull(spark, table, 0, 1, "doc_id")
    val byOp = full.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same event counts as the post-image feed, updates doubled into
    // pre/post pairs (20 updates in the built lineage, see the CDF spec)
    assert(byOp("insert") == 2 && byOp("delete") == 5)
    assert(byOp("update_preimage") == 20 && byOp("update_postimage") == 20)
    // every updated key carries exactly one image of each kind, and the
    // pre-image is the OLD payload, the post-image the new one
    val k2 = full.filter(col("doc_id") === 2L).collect()
      .map(r => r.getAs[String]("op") -> r.getAs[String]("text")).toMap
    assert(k2 == Map("update_preimage" -> "document body 2",
      "update_postimage" -> "edited 2"))
    // compaction pairs stay invisible in the full feed too
    assert(Ledger.readChangesFull(spark, table, 1, 2, "doc_id").count() == 0)
    // THE LAW the pre-images exist for: a view maintained from the feed
    // (insert/post add, delete/pre retract) equals recomputation
    import spark.implicits._
    val base = Ledger.readVersion(spark, table, 0)
      .select(col("source"), lit(1L).as("sgn"))
    val delta = full.select(col("source"),
      when(col("op").isin("insert", "update_postimage"), 1L).otherwise(-1L).as("sgn"))
    val maintained = base.unionByName(delta).groupBy("source")
      .agg(sum("sgn").as("n")).filter(col("n") =!= 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recomputed = Ledger.readVersion(spark, table, 1).groupBy("source")
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained == recomputed,
      "feed-maintained per-source counts must equal head recomputation")
    // ONE manifest diff behind both feeds: over a lineage with a
    // deletion vector, a DV re-insert and a compaction, the full feed
    // minus its pre-images (post-images named `update`) IS the
    // post-image feed, row for row, on every adjacent version pair
    val t = Ledger.tableRoot("ledger_cdf_shared_diff")
    Ledger.create(spark, t, (0L until 400L)
      .map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text"), "doc_id", nFiles = 8)
    Ledger.deleteWhere(spark, t, 0, "doc_id", col("doc_id") % 5 === 2) // v1
    Ledger.merge(spark, t, 1, Seq((2L, "upsert", "srcX", "back 2"),
        (5L, "upsert", "srcX", "edited 5"), (8L, "delete", "", ""),
        (900L, "upsert", "srcN", "brand new 900"))
      .toDF("doc_id", "op", "source", "text"), "doc_id") // v2
    Ledger.compact(spark, t, 2, "doc_id", nFiles = 2) // v3
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val sizes = (1 to 3).map { v =>
      val post = rows(Ledger.readChanges(spark, t, v - 1, v, "doc_id"))
      val fromFull = rows(Ledger.readChangesFull(spark, t, v - 1, v, "doc_id")
        .filter(col("op") =!= "update_preimage")
        .withColumn("op", when(col("op") === "update_postimage", "update")
          .otherwise(col("op"))))
      assert(fromFull == post, s"v${v - 1} -> v$v: full feed diverges from readChanges")
      post.size
    }
    // the lineage exercises each arm: 80 DV deletes; re-insert of 2,
    // update of 5, delete of 8, insert of 900; an empty compaction
    assert(sizes == Seq(80, 4, 0), s"feed sizes per pair: $sizes")
  }

  test("vacuum keeps carried-by-reference files alive and expires old versions") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_vacuum_spec")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    val changes = Seq((5L, "upsert", "srcX", "edited 5"), (10L, "delete", "", ""))
      .toDF("doc_id", "op", "source", "text")
    Ledger.merge(spark, t, 0, changes, "doc_id") // rewrites only keys 0-49's file
    assert(Ledger.latestVersion(spark, t) == 1)
    val v1Before = Ledger.readVersion(spark, t, 1).orderBy("doc_id").collect().toSeq
    val (deleted, kept) = Ledger.vacuum(spark, t, keepFrom = 1)
    // only v0's rewritten file is unreachable from v1; the 7 carried
    // files were created at v0 but MUST survive (v1 references them)
    assert(deleted == 1, s"deleted=$deleted")
    assert(kept >= 8, s"kept=$kept")
    assert(Ledger.readVersion(spark, t, 1).orderBy("doc_id").collect().toSeq == v1Before,
      "the kept version must be byte-identical after vacuum")
    // the expired version is GONE, not half-readable
    assertThrows[Exception](Ledger.manifest(spark, t, 0).collect())
  }

  test("schema evolution: ADD COLUMN is metadata-only, reads backfill null, merges converge") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_evo_spec")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    Ledger.evolve(spark, t, 0, Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    // METADATA-ONLY: v1 references exactly v0's files; no data/v1 dir
    val p0 = Ledger.manifest(spark, t, 0).select("path").collect().map(_.getString(0)).toSet
    val p1 = Ledger.manifest(spark, t, 1).select("path").collect().map(_.getString(0)).toSet
    assert(p0 == p1, "ADD COLUMN must not touch a single data file")
    assert(!new java.io.File(s"$t/data/v1").exists, "no data files for a metadata commit")
    // null backfill on read, schema widened in declared order
    val v1 = Ledger.readVersion(spark, t, 1)
    assert(v1.columns.toSeq == Seq("doc_id", "source", "text", "lang"))
    assert(v1.filter(col("lang").isNotNull).count() == 0)
    assert(v1.count() == 400)
    // evolution pair is invisible to the change feed (no data changed)
    assert(Ledger.readChanges(spark, t, 0, 1, "doc_id").count() == 0)
    // a merge on the evolved table backfills the new column for its
    // keys and leaves carried old-schema files readable
    val changes = Seq((5L, "upsert", "srcX", "edited 5", "en"),
        (900L, "upsert", "srcN", "born evolved", "xx"))
      .toDF("doc_id", "op", "source", "text", "lang")
    Ledger.merge(spark, t, 1, changes, "doc_id")
    val v2 = Ledger.readVersion(spark, t, 2)
    assert(v2.count() == 401)
    val byId = v2.filter(col("doc_id").isin(5L, 6L, 900L)).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), Option(r.getString(3))))).toMap
    assert(byId(5L) == (("edited 5", Some("en"))), "merge backfills the evolved column")
    assert(byId(6L) == (("document body 6", None)), "untouched old rows stay null")
    assert(byId(900L) == (("born evolved", Some("xx"))))
    // CDF across the backfill merge sees exactly the changed keys —
    // null-vs-value on the evolved column IS a change
    val cdf = Ledger.readChanges(spark, t, 1, 2, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cdf == Set(5L, 900L))
    // compaction materializes the evolved schema physically, same rows
    Ledger.compact(spark, t, 2, "doc_id", nFiles = 2)
    assert(Ledger.readVersion(spark, t, 3).orderBy("doc_id").collect().toSeq ==
      v2.orderBy("doc_id").collect().toSeq)
    // time travel to v0 still reads the ORIGINAL 3-column shape
    assert(Ledger.readVersion(spark, t, 0).columns.toSeq == Seq("doc_id", "source", "text"))
  }

  test("deletion vectors: DELETE WHERE moves no data files, reads hide keys, merges release them") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_dv_spec")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    val n = Ledger.deleteWhere(spark, t, 0, "doc_id", col("doc_id") % 5 === 2)
    assert(n == 80, s"deleted=$n")
    // MERGE-ON-READ: v1 references exactly v0's files, no data/v1 dir
    val p0 = Ledger.manifest(spark, t, 0).select("path").collect().map(_.getString(0)).toSet
    val p1 = Ledger.manifest(spark, t, 1).select("path").collect().map(_.getString(0)).toSet
    assert(p0 == p1, "DELETE WHERE must not rewrite a single data file")
    assert(!new java.io.File(s"$t/data/v1").exists, "no data files for a DV commit")
    assert(Ledger.deletionVector(spark, t, 1).get.count() == 80)
    // reads hide the vector's keys; v0 time travel still sees them
    assert(Ledger.readVersion(spark, t, 1).count() == 320)
    assert(Ledger.readVersion(spark, t, 1).filter(col("doc_id") === 2L).count() == 0)
    assert(Ledger.readVersion(spark, t, 0).count() == 400)
    // CDF of the DV commit: exactly the deleted keys, with pre-images
    val cdf = Ledger.readChanges(spark, t, 0, 1, "doc_id")
    assert(cdf.filter(col("op") =!= "delete").count() == 0)
    assert(cdf.count() == 80)
    assert(cdf.filter(col("doc_id") === 2L).collect().head
      .getAs[String]("text") == "document body 2", "delete carries the pre-image")
    // a merge re-upserting a DV-hidden key makes it visible again and
    // RELEASES it (plus every key in the rewritten file's range) from
    // the vector; untouched-range DV keys persist
    val changes = Seq((2L, "upsert", "srcX", "back 2")).toDF("doc_id", "op", "source", "text")
    Ledger.merge(spark, t, 1, changes, "doc_id")
    val v2 = Ledger.readVersion(spark, t, 2)
    assert(v2.filter(col("doc_id") === 2L).collect().head.getAs[String]("text") == "back 2")
    assert(v2.filter(col("doc_id") === 7L).count() == 0, "unrelated DV key stays hidden")
    val dv2 = Ledger.deletionVector(spark, t, 2).get.collect().map(_.getLong(0)).toSet
    assert(!dv2.contains(2L) && dv2.forall(_ >= 50L),
      s"keys 0-49 (the rewritten range file) must leave the vector: ${dv2.toSeq.sorted.take(5)}")
    // the re-insert classifies as INSERT in the CDF (absent -> present)
    val ops12 = Ledger.readChanges(spark, t, 1, 2, "doc_id").collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(ops12(2L) == "insert", s"re-upsert of a DV key is an insert: $ops12")
    // compaction materializes: vector gone, content identical
    Ledger.compact(spark, t, 2, "doc_id", nFiles = 2)
    assert(Ledger.deletionVector(spark, t, 3).isEmpty, "compaction starts clean")
    assert(Ledger.readVersion(spark, t, 3).orderBy("doc_id").collect().toSeq ==
      v2.orderBy("doc_id").collect().toSeq)
    assert(Ledger.readChanges(spark, t, 2, 3, "doc_id").count() == 0,
      "materializing the vector is invisible to the change feed")
  }

  test("bloom sidecar: point lookup on a non-key column reads a strict file subset, losslessly") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_bloom_spec")
    // key-ranged layout; `text` is UNCORRELATED with the key, so the
    // manifest's min/max can never prune a text lookup
    val docs = (0L until 4000L).map(i => (i, s"src${i % 4}", s"payload number ${i * 7919 % 4000}"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    Ledger.analyzeColumn(spark, t, 0, "text")
    val needles = Seq("payload number 42", "payload number 3999")
    val cand = Ledger.pruneFilesByValue(spark, t, 0, "text", needles)
    val all = Ledger.manifest(spark, t, 0).count()
    assert(cand.length < all, s"bloom must prune: ${cand.length} of $all files")
    assert(cand.length <= 4, s"two needles live in <=2 files + fp margin; got ${cand.length}")
    // lossless: pruned read == full-scan filter, exactly
    val viaBloom = Ledger.readWhereIn(spark, t, 0, "text", needles)
      .orderBy("doc_id").collect().toSeq
    val full = Ledger.readVersion(spark, t, 0)
      .filter(col("text").isInCollection(needles)).orderBy("doc_id").collect().toSeq
    assert(viaBloom == full && viaBloom.size == 2)
    // absent needle: no candidates (or fp-only), still zero rows
    assert(Ledger.readWhereIn(spark, t, 0, "text", Seq("no such payload")).count() == 0)
  }

  test("optimistic concurrency: disjoint concurrent merges both commit via rebase") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_occ_disjoint")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // A and B both prepare against v0, touching DIFFERENT range files
    val a = Ledger.prepareMerge(spark, t, 0,
      Seq((2L, "upsert", "srcA", "A wrote 2"), (1000L, "upsert", "srcA", "A new 1000"))
        .toDF("doc_id", "op", "source", "text"), "doc_id")
    val b = Ledger.prepareMerge(spark, t, 0,
      Seq((355L, "upsert", "srcB", "B wrote 355")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    // B wins version 1; A's claim of v1 fails, validates, rebases to v2
    assert(Ledger.commitPrepared(spark, t, b) == 1)
    assert(Ledger.commitPrepared(spark, t, a) == 2)
    val v2 = Ledger.readVersion(spark, t, 2).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2(2L) == "A wrote 2" && v2(355L) == "B wrote 355" && v2(1000L) == "A new 1000",
      "both disjoint commits must survive the rebase")
    assert(v2.size == 401)
    // rebase is metadata-only: A's rewritten files appear verbatim in v2
    val aPaths = a.rewrittenFiles.select("path").collect().map(_.getString(0)).toSet
    val v2Paths = Ledger.manifest(spark, t, 2).select("path").collect().map(_.getString(0)).toSet
    assert(aPaths.subsetOf(v2Paths), "rebase must not recompute the rewrite")
    // the change feed stays consistent across the interleaved lineage
    assert(Ledger.readChanges(spark, t, 0, 2, "doc_id").count() == 3)
  }

  test("optimistic concurrency: overlapping writers abort instead of losing updates") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_occ_conflict")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // same FILE, different keys: C read a file B then rewrote
    val b = Ledger.prepareMerge(spark, t, 0,
      Seq((355L, "upsert", "srcB", "B wrote 355")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val c = Ledger.prepareMerge(spark, t, 0,
      Seq((360L, "upsert", "srcC", "C wrote 360")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    assert(Ledger.commitPrepared(spark, t, b) == 1)
    val e1 = intercept[java.util.ConcurrentModificationException] {
      Ledger.commitPrepared(spark, t, c)
    }
    assert(e1.getMessage.contains("rewrote files this merge read"))
    // insert-vs-insert collision: D and E both insert key 2000 (no
    // existing file hit) — the second must abort on the added-file
    // range check, not silently duplicate the key
    val d = Ledger.prepareMerge(spark, t, 1,
      Seq((2000L, "upsert", "srcD", "D new 2000")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val e = Ledger.prepareMerge(spark, t, 1,
      Seq((2000L, "upsert", "srcE", "E new 2000")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    assert(Ledger.commitPrepared(spark, t, d) == 2)
    val e2 = intercept[java.util.ConcurrentModificationException] {
      Ledger.commitPrepared(spark, t, e)
    }
    assert(e2.getMessage.contains("overlapping this merge's change keys"))
    // the table is uncorrupted after the aborts
    val v2 = Ledger.readVersion(spark, t, 2)
    assert(v2.filter(col("doc_id") === 2000L).count() == 1)
    assert(v2.count() == 401)
  }

  /** N writers race `prepareMerge`+`commitPrepared` on one table, each
    * touching a DIFFERENT range file (disjoint): write serializability
    * demands every one eventually commits, on a distinct consecutive
    * version, with no lost update and every intermediate version
    * internally consistent. */
  private def raceDisjointWriters(tag: String, nWriters: Int,
      store: Ledger.LogStore): Unit = {
    import spark.implicits._
    val t = Ledger.tableRoot(tag)
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (0 until nWriters).map { i =>
      scala.concurrent.Future {
        val key = i * 50L + 5L
        val p = Ledger.prepareMerge(spark, t, 0,
          Seq((key, "upsert", s"w$i", s"writer $i wrote $key"))
            .toDF("doc_id", "op", "source", "text"), "doc_id")
        Ledger.commitPrepared(spark, t, p,
          maxAttempts = 64, waitMs = 120000, logStore = store)
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    assert(versions.toSet == (1 to nWriters).toSet,
      s"every writer must commit a distinct consecutive version: $versions")
    assert(Ledger.latestVersion(spark, t) == nWriters)
    val last = Ledger.readVersion(spark, t, nWriters).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(last.size == 400, "upsert-only race must preserve row count")
    (0 until nWriters).foreach { i =>
      assert(last(i * 50L + 5L) == s"writer $i wrote ${i * 50L + 5L}",
        s"writer $i's update must survive every rebase")
    }
    // every committed version validates: readable, complete, and
    // carrying exactly v of the race's edits (serial history)
    (1 to nWriters).foreach { v =>
      val dfv = Ledger.readVersion(spark, t, v)
      assert(dfv.count() == 400, s"v$v must have 400 rows")
      assert(dfv.filter(col("source").startsWith("w")).count() == v,
        s"v$v must carry exactly $v committed edits")
    }
  }

  test("plain merges from one base serialize: disjoint keys rebase, overlapping keys abort") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_merge_same_base")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    def upsert(key: Long, text: String) =
      Seq((key, "upsert", "srcM", text)).toDF("doc_id", "op", "source", "text")
    // two writers that both read v0, touching DIFFERENT range files:
    // the second claims past the first instead of replacing v1
    Ledger.merge(spark, t, 0, upsert(2L, "first wrote 2"), "doc_id")
    Ledger.merge(spark, t, 0, upsert(355L, "second wrote 355"), "doc_id")
    assert(Ledger.latestVersion(spark, t) == 2, "the second merge must rebase to v2")
    val head = Ledger.readVersion(spark, t, 2).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(head(2L) == "first wrote 2" && head(355L) == "second wrote 355",
      "both merges from one base must be visible at the head")
    assert(head.size == 400)
    // two writers that both read v2 and upsert the SAME key: the second
    // read a file the first rewrote, so it aborts
    Ledger.merge(spark, t, 2, upsert(100L, "third wrote 100"), "doc_id")
    intercept[java.util.ConcurrentModificationException] {
      Ledger.merge(spark, t, 2, upsert(100L, "fourth wrote 100"), "doc_id")
    }
    assert(Ledger.latestVersion(spark, t) == 3)
    assert(Ledger.readVersion(spark, t, 3).filter(col("doc_id") === 100L)
      .collect().head.getString(2) == "third wrote 100",
      "the aborted merge must not overwrite the committed one")
  }

  test("OCC stress: 8 contended writers serialize via the FS claim primitive") {
    raceDisjointWriters("ledger_occ_stress_fs", 8, Ledger.AtomicCreateLogStore)
  }

  test("OCC stress: the conditional-put LogStore carries the same guarantee at full contention") {
    // the SHIPPED second impl — conditional-put semantics (S3
    // `If-None-Match: *` / DynamoDB CAS, in-JVM twin) — under the SAME
    // 8-writer stress as the FS claim primitive: the serializability
    // guarantee lives in the TRAIT contract, not in one storage's
    // create-exclusive semantics
    Ledger.CasLogStore.reset()
    raceDisjointWriters("ledger_occ_stress_cas", 8, Ledger.CasLogStore)
  }

  test("OCC composes with deletion vectors: disjoint commits rebase, vector conflicts abort") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_occ_dv")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // v1: a pending deletion vector over every range file
    Ledger.deleteWhere(spark, t, 0, "doc_id", col("doc_id") % 10 === 3)
    assert(Ledger.deletionVector(spark, t, 1).get.count() == 40)
    // A and B prepare CONCURRENTLY against the DV-carrying base,
    // touching different range files, neither touching a vector key
    val a = Ledger.prepareMerge(spark, t, 1,
      Seq((2L, "upsert", "srcA", "A wrote 2")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val b = Ledger.prepareMerge(spark, t, 1,
      Seq((355L, "upsert", "srcB", "B wrote 355")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    assert(Ledger.commitPrepared(spark, t, b) == 2)
    // B's rewrite physically applied file [350,399]'s vector keys
    // (353,363,...): releases are PHYSICAL-ONLY, so A's rebase is safe
    assert(Ledger.commitPrepared(spark, t, a) == 3)
    val v3 = Ledger.readVersion(spark, t, 3).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v3(2L) == "A wrote 2" && v3(355L) == "B wrote 355",
      "both disjoint commits must survive the rebase over a DV base")
    assert(!v3.contains(3L) && !v3.contains(353L) && !v3.contains(63L),
      "every vector key must stay deleted through claim-win AND rebase paths")
    assert(v3.size == 360)
    // the head's CDF vs v1 sees exactly the two edits, no resurrections
    assert(Ledger.readChanges(spark, t, 1, 3, "doc_id").count() == 2)

    // ABORT row 1: an interleaved DELETE WHERE adds vector keys the
    // loser's staged vector predates — publishing it would resurrect
    val c = Ledger.prepareMerge(spark, t, 3,
      Seq((100L, "upsert", "srcC", "C wrote 100")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    Ledger.deleteWhere(spark, t, 3, "doc_id", col("doc_id") === 200L) // v4
    val e1 = intercept[java.util.ConcurrentModificationException] {
      Ledger.commitPrepared(spark, t, c)
    }
    assert(e1.getMessage.contains("added deletion-vector keys"))
    assert(Ledger.readVersion(spark, t, Ledger.latestVersion(spark, t))
      .filter(col("doc_id") === 200L).count() == 0,
      "the interleaved delete must survive the aborted commit")

    // ABORT row 2: the winner re-upserts a vector key (release BY
    // CHANGESET — the key is live in its added files); the loser's
    // staged vector would re-hide that update
    val d = Ledger.prepareMerge(spark, t, 4,
      Seq((100L, "upsert", "srcD", "D wrote 100")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    Ledger.merge(spark, t, 4,
      Seq((343L, "upsert", "srcW", "343 is back")).toDF("doc_id", "op", "source", "text"),
      "doc_id") // v5: 343 was a vector key; now live again
    val e2 = intercept[java.util.ConcurrentModificationException] {
      Ledger.commitPrepared(spark, t, d)
    }
    assert(e2.getMessage.contains("re-inserted a deletion-vector key"))
    assert(Ledger.readVersion(spark, t, 5).filter(col("doc_id") === 343L)
      .collect().head.getString(2) == "343 is back",
      "the winner's re-insert must survive the aborted commit")
  }

  test("cleanStaging: stale leaked staging is collected by age, in-flight and committed survive") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_clean_staging")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // leaked: prepared, then abandoned (never committed)
    val leaked = Ledger.prepareMerge(spark, t, 0,
      Seq((2L, "upsert", "srcL", "leaked 2")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val leakedDir = new java.io.File(
      new org.apache.hadoop.fs.Path(
        leaked.rewrittenFiles.select("path").head().getString(0)).getParent.toUri.getPath)
    // committed: prepared and published — its c* files are LIVE data
    val kept = Ledger.prepareMerge(spark, t, 0,
      Seq((355L, "upsert", "srcK", "kept 355")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    assert(Ledger.commitPrepared(spark, t, kept) == 1)
    // in-flight discipline: a young staging dir is NEVER collected,
    // whatever its commit fate (the age contract)
    assert(Ledger.cleanStaging(spark, t, olderThanMs = 3600000L) == 0)
    assert(leakedDir.exists, "a young (possibly in-flight) prepare must survive")
    // past the age horizon: the unreferenced leak is collected, the
    // committed (manifest-referenced) staging survives at ANY age
    assert(Ledger.cleanStaging(spark, t, olderThanMs = -60000L) == 1)
    assert(!leakedDir.exists, "the abandoned staging dir must be gone")
    val head = Ledger.readVersion(spark, t, 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(head(355L) == "kept 355" && head.size == 400,
      "committed data must be untouched by staging GC")
  }

  test("streaming replay no-ops even after OTHER writers advanced the version (txn dedup)") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_txn_dedup")
    val docs = (0L until 200L).map(i => (i, "src", s"body $i")).toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 4)
    val batch0 = Seq((5L, "src", "edited 5")).toDF("doc_id", "source", "text")
    assert(Ledger.commitBatch(spark, t, 0L, batch0, "doc_id"), "batch 0 commits v1")
    // a CONCURRENT batch writer interleaves — the old version==batchId+1
    // gate breaks exactly here; the txn marker must not
    assert(Ledger.mergeOcc(spark, t,
      Seq((150L, "upsert", "srcB", "batch writer")).toDF("doc_id", "op", "source", "text"),
      "doc_id") == 2)
    // crash-replay of batch 0: version arithmetic says v3, the txn
    // sidecar says batch 0 is already committed — must NO-OP
    assert(!Ledger.commitBatch(spark, t, 0L, batch0, "doc_id"), "replay must not commit")
    assert(Ledger.latestVersion(spark, t) == 2)
    // the stream's NEXT batch serializes after the interleaved writer
    assert(Ledger.commitBatch(spark, t, 1L,
      Seq((6L, "src", "edited 6")).toDF("doc_id", "source", "text"), "doc_id"))
    assert(Ledger.latestVersion(spark, t) == 3)
    val head = Ledger.readVersion(spark, t, 3).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(head(5L) == "edited 5" && head(150L) == "batch writer" && head(6L) == "edited 6",
      "stream and batch writers must serialize with no lost update")
  }

  test("DV release is membership-based: overlapping file ranges cannot resurrect a delete") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_dv_overlap")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // v1: a merge with a FAR insert — the rewrite of range file [0,49]
    // gains key 10000, so the rewritten file's [min,max] = [0,10000]
    // now OVERLAPS every carried file's range
    Ledger.merge(spark, t, 0,
      Seq((25L, "upsert", "srcX", "edited 25"), (10000L, "upsert", "srcN", "far insert"))
        .toDF("doc_id", "op", "source", "text"), "doc_id")
    // v2: DELETE a key that physically lives in a CARRIED file [50,99]
    // but falls inside the wide rewritten file's range
    Ledger.deleteWhere(spark, t, 1, "doc_id", col("doc_id") === 60L)
    assert(Ledger.readVersion(spark, t, 2).filter(col("doc_id") === 60L).count() == 0)
    // v3: a merge touching ONLY the wide file (key 9999 hits no carried
    // range). Release-by-range would see 60 ∈ [0,10000] and drop it
    // from the vector WITHOUT rewriting its row — resurrection. The
    // membership rule keeps it: 60 is not physically in the wide file.
    Ledger.merge(spark, t, 2,
      Seq((9999L, "upsert", "srcY", "another far insert"))
        .toDF("doc_id", "op", "source", "text"), "doc_id")
    assert(Ledger.readVersion(spark, t, 3).filter(col("doc_id") === 60L).count() == 0,
      "the deleted row must stay deleted across an overlapping-range merge")
    assert(Ledger.deletionVector(spark, t, 3).get.collect().map(_.getLong(0)).toSet == Set(60L),
      "the vector must still carry the key — its file was never rewritten")
    // and the key IS released once its own file is actually rewritten
    Ledger.merge(spark, t, 3,
      Seq((61L, "upsert", "srcZ", "edited 61")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    assert(Ledger.deletionVector(spark, t, 4).get.count() == 0,
      "rewriting the containing file physically applies the delete")
    assert(Ledger.readVersion(spark, t, 4).filter(col("doc_id") === 60L).count() == 0)
  }

  test("a partial manifest (no _SUCCESS) is invisible and replay commits over it") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_partial_manifest")
    val docs = (0L until 100L).map(i => (i, "src", s"body $i")).toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 4)
    // simulate a committer crash DURING the v1 manifest write: the dir
    // exists with data but no _SUCCESS marker
    val partial = new java.io.File(s"$t/_manifest/v1")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(Ledger.latestVersion(spark, t) == 0,
      "a marker-less manifest must not count as committed")
    assertThrows[IllegalArgumentException](Ledger.manifest(spark, t, 1))
    // streaming replay of batch 0 (version 1) must recover: the
    // latestVersion gate passes and the overwrite replaces the partial
    val batch = Seq((5L, "src", "edited 5")).toDF("doc_id", "source", "text")
    assert(Ledger.commitBatch(spark, t, 0L, batch, "doc_id"), "replay must commit")
    assert(Ledger.latestVersion(spark, t) == 1)
    assert(Ledger.readVersion(spark, t, 1).filter(col("doc_id") === 5L)
      .collect().head.getString(2) == "edited 5")
  }

  test("vacuum never deletes in-flight OCC staging files") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_vacuum_staging")
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 8)
    // an in-flight prepared merge: rewrite staged under data/c<id>, no
    // manifest references it yet
    val p = Ledger.prepareMerge(spark, t, 0,
      Seq((2L, "upsert", "srcA", "A wrote 2")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val staged = p.rewrittenFiles.select("path").collect().map(_.getString(0))
    // an interleaved committed writer bumps the version, then a vacuum
    // runs while the prepare is still in flight
    Ledger.merge(spark, t, 0,
      Seq((355L, "upsert", "srcB", "B wrote 355")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    Ledger.vacuum(spark, t, keepFrom = 1)
    staged.foreach { s =>
      assert(new java.io.File(new org.apache.hadoop.fs.Path(s).toUri.getPath).exists,
        s"vacuum must not touch unreferenced staging file $s")
    }
    // the prepare still commits (disjoint → rebase) and reads cleanly
    val v = Ledger.commitPrepared(spark, t, p)
    val rows = Ledger.readVersion(spark, t, v).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows(2L) == "A wrote 2" && rows(355L) == "B wrote 355")
    // once the staged files are committed and later EXPIRED, vacuum
    // may reclaim them: expire everything below latest
    Ledger.merge(spark, t, v,
      Seq((2L, "upsert", "srcC", "C rewrote 2")).toDF("doc_id", "op", "source", "text"),
      "doc_id")
    val (deleted, _) = Ledger.vacuum(spark, t, keepFrom = v + 1)
    assert(deleted > 0, "expired committed files (incl. old staging) must be reclaimable")
  }

  test("merge rejects duplicate and null changeset keys loudly") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_dup_keys")
    val docs = (0L until 100L).map(i => (i, "src", s"body $i")).toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 4)
    val dup = Seq((5L, "upsert", "src", "first"), (5L, "delete", "", ""))
      .toDF("doc_id", "op", "source", "text")
    val e = intercept[IllegalArgumentException](Ledger.merge(spark, t, 0, dup, "doc_id"))
    assert(e.getMessage.contains("unique"))
    val withNull = Seq((Some(5L), "upsert", "src", "x"), (None, "upsert", "src", "y"))
      .toDF("doc_id", "op", "source", "text")
    assertThrows[IllegalArgumentException](Ledger.merge(spark, t, 0, withNull, "doc_id"))
    // the table is untouched after the rejections
    assert(Ledger.latestVersion(spark, t) == 0)
    assert(Ledger.readVersion(spark, t, 0).count() == 100)
  }

  test("z-ordered ledger: manifests carry both-dim stats, prune on either dim, survive merges") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_z_spec")
    // uncorrelated dims: d2 = bit-reversed key, so a key-ranged layout
    // would give every file a full-width d2 span
    val rows = (0L until 4096L).map { k =>
      val d2 = (0 until 12).map(b => ((k >> b) & 1L) << (11 - b)).sum
      (k, d2, s"payload $k")
    }.toDF("k", "d2", "text")
    import graft.ops.ZOrder
    val z = ZOrder.interleave2(ZOrder.quantize(col("k"), 0, 4095, 12),
      ZOrder.quantize(col("d2"), 0, 4095, 12), 12)
    Ledger.create(spark, t, rows, "k", nFiles = 16,
      clusterBy = Some(z), statCols = Seq("d2"))
    val m = Ledger.manifest(spark, t, 0)
    assert(m.columns.toSet ==
      Set("path", "min_key", "max_key", "rows", "min_d2", "max_d2"),
      "the manifest must carry per-file ranges for BOTH dimensions")
    val all = m.count()
    // the ZOrderSpec stat-width property at manifest level: a narrow
    // range on EITHER dimension prunes to a strict subset of files
    val byKey = Ledger.pruneFiles(spark, t, 0, 100, 160)
    val byD2 = Ledger.pruneFilesBy(spark, t, 0, "d2", 100, 160)
    assert(byKey.length < all, s"key pruning: ${byKey.length} of $all")
    assert(byD2.length < all, s"d2 pruning: ${byD2.length} of $all")
    // lossless: pruned read ≡ full-scan filter on the secondary dim
    val viaPruned = Ledger.readWhereRange(spark, t, 0, "d2", 100, 160)
      .orderBy("k").collect().toSeq
    val full = Ledger.readVersion(spark, t, 0)
      .filter(col("d2").between(100, 160)).orderBy("k").collect().toSeq
    assert(viaPruned == full && viaPruned.nonEmpty)
    // a copy-on-write merge MAINTAINS the declared stats: every v1
    // manifest row's recorded d2 range equals the file's actual range
    Ledger.merge(spark, t, 0,
      Seq((100L, "upsert", 999L, "edited 100")).toDF("k", "op", "d2", "text"), "k")
    Ledger.manifest(spark, t, 1).collect().foreach { r =>
      val actual = spark.read.parquet(r.getAs[String]("path"))
        .agg(min("d2"), max("d2")).head()
      assert(r.getAs[Long]("min_d2") == actual.getLong(0)
        && r.getAs[Long]("max_d2") == actual.getLong(1),
        s"stats must stay exact for ${r.getAs[String]("path")}")
    }
    // and the pruned secondary read sees the post-merge truth
    val got = Ledger.readWhereRange(spark, t, 1, "d2", 999, 999).collect()
    assert(got.exists(r => r.getAs[Long]("k") == 100L),
      "the updated row must surface through the pruned read")
    // z-aware compaction (OPTIMIZE ZORDER BY): key-ranged merge
    // rewrites loosen z-locality; compacting WITH the cluster
    // expression restores it — content identical, secondary-dim
    // pruning back to a strict subset
    Ledger.compact(spark, t, 1, "k", nFiles = 16, clusterBy = Some(z))
    assert(Ledger.readVersion(spark, t, 2).orderBy("k").collect().toSeq ==
      Ledger.readVersion(spark, t, 1).orderBy("k").collect().toSeq,
      "z compaction must not change a single row")
    val m2 = Ledger.manifest(spark, t, 2)
    assert(Ledger.pruneFilesBy(spark, t, 2, "d2", 100, 160).length < m2.count(),
      "restored z layout must prune the secondary dim again")
  }

  test("manifest pruning: a narrow key range touches a strict subset of files, losslessly") {
    built
    val all = Ledger.manifest(spark, table, 0).count()
    val pruned = Ledger.pruneFiles(spark, table, 0, 100, 120)
    assert(pruned.length < all, s"range [100,120] must prune ($all files total)")
    // lossless: the pruned file set contains every row in the range
    val fromPruned = spark.read.parquet(pruned.toIndexedSeq: _*)
      .filter(col("doc_id").between(100, 120)).count()
    assert(fromPruned == 21)
  }

  test("a version whose every row is gone keeps its schema for reads, the change feed and merges") {
    import spark.implicits._
    val t = Ledger.tableRoot("ledger_all_deleted")
    val docs = (0L until 20L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    Ledger.create(spark, t, docs, "doc_id", nFiles = 2)
    Ledger.deleteWhere(spark, t, 0, "doc_id", lit(true))
    // the compaction reads through the vector: v2's manifest holds no rows
    Ledger.compact(spark, t, 1, "doc_id")
    val v2 = Ledger.readVersion(spark, t, 2)
    assert(v2.columns.toSeq == Ledger.readVersion(spark, t, 0).columns.toSeq,
      "an empty version must keep the table's columns")
    assert(v2.count() == 0)
    assert(Ledger.readChanges(spark, t, 1, 2, "doc_id").count() == 0,
      "compacting away hidden rows changes no live row")
    val upserts = Seq((3L, "upsert", "srcN", "back 3"), (7L, "upsert", "srcN", "back 7"),
        (50L, "upsert", "srcN", "new 50"))
      .toDF("doc_id", "op", "source", "text")
    assert(Ledger.merge(spark, t, 2, upserts, "doc_id") == 3)
    assert(Ledger.readVersion(spark, t, 3).count() == 3)
  }
}
