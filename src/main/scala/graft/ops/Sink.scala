package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Q-sink (SURVEY §2.3): partitioned, compressed parquet writes with
  * the reference's skip-empty semantics (`pipeline/load/store.py:9-11`)
  * — promoted from the reference's single-file writer to the layout a
  * 100 TB table actually needs:
  *
  *  - `partitionBy` on a low-cardinality predicate column ⇒ readers
  *    with a filter on it scan only matching directories
  *    (PartitionFilters, verified in SinkSpec);
  *  - snappy compression (splittable, cheap to decode);
  *  - `maxRecordsPerFile` caps file size so a skewed partition can't
  *    produce an unsplittable monster file.
  */
object Sink {

  /** Write `df` partitioned by `cols`; skip empty inputs (ref parity).
    * Returns true iff data was written. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Boolean = {
    if (df.isEmpty) false
    else {
      df.write.mode("overwrite")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(cols: _*)
        .parquet(path)
      true
    }
  }

  /** Demo pipeline: orders partitioned by status — the write side of
    * the partition-pruning contract. */
  def writeOrdersByStatus(spark: SparkSession, dir: String, outPath: String): Boolean =
    writePartitioned(
      Tables.orders(spark, dir).withColumn("status", col("o_orderstatus")),
      outPath, Seq("status"))

  /** Declared sink round-trip query: write orders partitioned by
    * status, read the files back, and emit a canonical projection. The
    * oracle compares against the ORIGINAL `orders` table — so the row
    * is green iff the sink preserved every value through the
    * partition-layout write (including the status column that became a
    * directory key). The write itself is the operator under test and
    * runs on every execution. */
  def qSink(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.GraftPaths.sink("graft_sink", dir.replaceAll(".*/", ""))
    writeOrdersByStatus(spark, dir, out)
    spark.read.parquet(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        graft.ops.Exact.tstr(col("o_orderdate")).as("odate"),
        col("o_orderpriority"), col("status").cast("string").as("status"))
      .orderBy(col("o_orderkey"))
  }

  /** TRAINING-SHARD WRITER — materialize the deterministic global
    * shuffle ([[graft.text.TrainPrep.shardRows]]) as `nShards`
    * independently sorted parquet streams: one exchange on `shard`,
    * a per-shard `(shard, pos)` sort, `partitionBy(shard)` directories.
    * This is the write path of a training run at any scale — at 100 TB
    * `nShards` is thousands and the per-shard sort IS the parallelism;
    * `maxRecordsPerFile` keeps a skewed shard splittable. Row order
    * inside each written file is the shard's permutation order, so a
    * loader streams each file start-to-finish (asserted in SinkSpec). */
  def writeShards(spark: SparkSession, dir: String, outPath: String,
      nShards: Int = 8): Unit =
    graft.text.TrainPrep.shardRows(spark, dir, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite")
      .option("compression", "snappy")
      .option("maxRecordsPerFile", 5000000L)
      .partitionBy("shard")
      .parquet(outPath)

  /** Declared shard-write round trip: write the sharded corpus, read
    * the files back, and emit the per-shard MANIFEST a loader consumes
    * — doc/token totals plus permutation checksums (`sum(pos·doc_id)`,
    * `sum(pos·n_tok)`) that pin the position→document assignment, and
    * the final running-token value. The DuckDB oracle recomputes the
    * same manifest from the raw documents table, so the row is green
    * iff the writer laid down exactly the declared permutation. */
  def qShardWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.GraftPaths.sink("graft_shards", dir.replaceAll(".*/", ""))
    writeShards(spark, dir, out)
    spark.read.parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        max(col("cum_tokens")).as("final_cum_tokens"),
        sum(col("pos") * col("doc_id")).as("perm_check"),
        sum(col("pos") * col("n_tok")).as("order_tok_check"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  /** BUCKETED FACT TABLES — the co-located-join data layout. Both fact
    * tables hash-bucket on the join key at write time; every
    * subsequent orders⋈lineitem equi-join reads bucket i against
    * bucket i with NO Exchange on either side (asserted in SinkSpec).
    * At 100 TB this converts the pipeline's dominant recurring shuffle
    * (the fact-fact join both engines pay per query) into a one-time
    * layout cost — the Hive/Spark bucketing form of the reference's
    * keyed-cache locality idea. Idempotent per corpus dir. */
  def ensureBucketedFacts(spark: SparkSession, dir: String, buckets: Int = 8): (String, String) = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val ot = s"graft_orders_b_$tag"
    val lt = s"graft_lineitem_b_$tag"
    if (!spark.catalog.tableExists(ot)) {
      // a prior JVM may have left the managed location behind with no
      // catalog entry (fresh in-memory catalog per session) — clear it
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      Seq(ot, lt).foreach { t =>
        val p = new org.apache.hadoop.fs.Path(wh, t)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Tables.orders(spark, dir).write
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(ot)
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          col("l_quantity"), col("l_returnflag"))
        .write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(lt)
    }
    (ot, lt)
  }

  /** Q-bucket-join: revenue per order priority off the BUCKETED fact
    * layout — the declared proof that the co-located join produces
    * byte-identical answers to the shuffled plan (oracle recomputes
    * from the raw parquet). The aggregate after the join re-shuffles
    * only priority-cardinality partials. */
  def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = ensureBucketedFacts(spark, dir)
    val rev = graft.ops.Exact.money(col("l_extendedprice")) *
      (graft.ops.Exact.one - graft.ops.Exact.rate(col("l_discount")))
    spark.table(ot).filter(col("o_orderstatus") === "F")
      .join(spark.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Exact.decToDouble(sum(rev)).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** SMALL-FILE COMPACTION — the table-maintenance pass every long-run
    * ingestion needs: a drop arrives as thousands of tiny files (one
    * per micro-batch/task), and scan cost at 100 TB is dominated by
    * file-open overhead until the layout is rewritten into
    * target-sized files. `compact` rewrites a partitioned dataset with
    * ONE exchange keyed on the partition columns and reports
    * before/after file counts; data content is untouched (the
    * [[qCompact]] oracle pins it row-for-row). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      partCol: String): (Long, Long) = {
    val before = spark.read.parquet(inPath)
    val nBefore = before.inputFiles.length.toLong
    before.repartition(col(partCol))
      .write.mode("overwrite")
      .option("compression", "snappy")
      .partitionBy(partCol)
      .parquet(outPath)
    val nAfter = spark.read.parquet(outPath).inputFiles.length.toLong
    (nBefore, nAfter)
  }

  /** The fragmented INPUT layout for [[qCompact]], built once per
    * (session, corpus): it is the deterministic fixture the compaction
    * operates ON (at 100 TB the small-file mess arrives from
    * ingestion; fragmenting it is not the measured operation).
    * Memoized so bench passes time the compaction rewrite itself;
    * `StandingState.release()` clears it like every standing artifact. */
  def warmCompactInput(spark: SparkSession, dir: String): String = {
    val tag = dir.replaceAll(".*/", "")
    graft.StandingState.standing(spark, "compact-input", tag) {
      val frag = graft.GraftPaths.sink("graft_compact", s"frag_$tag")
      Tables.events(spark, dir)
        .repartition(32)
        .write.mode("overwrite").partitionBy("event_type").parquet(frag)
      frag
    }
  }

  /** Declared compaction round trip: fragment events into 32 files per
    * event-type partition, compact to one file per partition, and emit
    * the per-type manifest (counts + exact checksums) from the
    * COMPACTED files. Green iff compaction preserved every row. */
  def qCompact(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll(".*/", "")
    val frag = warmCompactInput(spark, dir)
    val out = graft.GraftPaths.sink("graft_compact", s"out_$tag")
    compact(spark, frag, out, "event_type")
    spark.read.parquet(out)
      .groupBy(col("event_type").cast("string").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        sum(col("user_id")).as("sum_user_id"),
        graft.ops.Exact.decToDouble(sum(graft.ops.Exact.dec(col("value"), 2))).as("sum_value"))
      .orderBy(col("event_type"))
  }
}
