package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Ledger

/** The ledger across real processes. LedgerSpec's in-suite stress races
  * THREADS in one JVM, which certifies the commit protocol's logic but
  * shares one filesystem view and one JVM's memory model. Real
  * deployments race PROCESSES: both claim styles of
  * [[graft.etl.Ledger.LogStore]] — create-exclusive
  * (`File.createNewFile` = POSIX O_CREAT|O_EXCL, atomic across
  * processes by contract) and the conditional put a plain-S3
  * deployment needs ([[graft.etl.Ledger.FileCasLogStore]], one shared
  * coordination file under a cross-process FileLock) — are raced here
  * by child JVMs of [[LedgerProcessWriter]] committing disjoint
  * prepared merges on one table, and must keep the serializability
  * law. A third case stops a session and reads the same version, and
  * one query per standing-artifact family, from a fresh one, which is
  * only possible in a JVM of its own: the suite shares one session. */
class LedgerProcessSpec extends AnyFunSuite {
  import SparkFixture.spark

  private val nWriters = 3

  /** Run `main` in a child JVM on this JVM's classpath, with extra JVM
    * options `jvm`; (exit code, output). */
  private def fork(main: String, args: Seq[String], jvm: Seq[String] = Nil): (Int, String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val opens = Seq("java.lang", "java.lang.invoke", "java.nio", "java.util",
      "java.util.concurrent", "sun.nio.ch", "sun.util.calendar", "sun.security.action")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val pb = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ opens ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  for (store <- Seq("create-exclusive", "conditional-put"))
    test(s"$nWriters writer JVMs commit serializably through the $store LogStore") {
      import spark.implicits._
      val t = Ledger.tableRoot(s"ledger_proc_$store")
      val docs = (0L until 400L).map(i => (i, s"src${i % 4}", s"document body $i"))
        .toDF("doc_id", "source", "text")
      Ledger.create(spark, t, docs, "doc_id", nFiles = 8)

      val writers = (0 until nWriters).map { i =>
        i -> scala.concurrent.Future(fork("graft.LedgerProcessWriter", Seq(t, i.toString, store)))(
          scala.concurrent.ExecutionContext.global)
      }
      val versions = writers.map { case (i, f) =>
        val (rc, out) = scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        val v = out.linesIterator.collectFirst {
          case l if l.startsWith("COMMIT v=") => l.stripPrefix("COMMIT v=").toInt
        }
        assert(rc == 0 && v.isDefined, s"writer $i failed (rc=$rc):\n${out.takeRight(4000)}")
        v.get
      }

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
      (1 to nWriters).foreach { v =>
        val dfv = Ledger.readVersion(spark, t, v)
        assert(dfv.count() == 400, s"v$v must have 400 rows")
        assert(dfv.filter(col("source").startsWith("w")).count() == v,
          s"v$v must carry exactly $v committed edits")
      }
      if (store == "conditional-put") {
        val src = scala.io.Source.fromFile(s"$t/_cas_claims")
        val claims = try src.getLines().toSeq finally src.close()
        assert(claims.size == nWriters && claims.distinct.size == nWriters,
          s"the CAS store must hold exactly one claim per version: $claims")
      }
    }

  test("a new session reads a version an earlier, stopped session read") {
    // the child writes its lineages and layouts under its own sink root,
    // so it never rewrites a table this JVM's session has registered
    val sinkRoot = new java.io.File("target/graft_swap_sink").getAbsolutePath
    val (rc, out) = fork("graft.LedgerSessionSwap",
      Seq(Ledger.tableRoot("ledger_proc_swap"), SparkFixture.sf),
      Seq(s"-Dgraft.sink.root=$sinkRoot"))
    assert(rc == 0, s"session swap failed (rc=$rc):\n${out.takeRight(4000)}")
    assert(out.linesIterator.contains("SWAP rows=390/390"), out.takeRight(4000))
    // one query per standing family: the rows a fresh session serves
    // equal the rows the stopped session served
    for (q <- LedgerSessionSwap.familyQueries) {
      val line = out.linesIterator.find(_.startsWith(s"SWAP $q ")).getOrElse(
        fail(s"no swap line for $q:\n${out.takeRight(4000)}"))
      val Array(_, _, rows, same) = line.split(" ")
      assert(rows.stripPrefix("rows=").toInt > 0, line)
      assert(same == "same=true", line)
    }
  }
}

private object LedgerProcessSession {
  def apply(name: String): SparkSession = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // each child is its own app: keep scratch dirs apart
      .config("spark.local.dir", s"${System.getProperty("java.io.tmpdir")}/$name")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** One ledger writer as its own JVM: `<table> <id> <store>`. Prepares a
  * single-key merge against version 0 (deliberately stale — the
  * validate+rebase loop of commitPrepared must carry it to whatever
  * version the race assigns) and commits through the named LogStore.
  * Prints `COMMIT v=<N>` on success. */
object LedgerProcessWriter {
  def main(args: Array[String]): Unit = {
    val Array(table, idStr, store) = args.take(3)
    val i = idStr.toInt
    val spark = LedgerProcessSession(s"ledger_writer_$i")
    import spark.implicits._
    val logStore = store match {
      case "create-exclusive" => Ledger.AtomicCreateLogStore
      case "conditional-put" => new Ledger.FileCasLogStore(s"$table/_cas_claims")
    }
    val key = i * 50L + 5L
    val p = Ledger.prepareMerge(spark, table, 0,
      Seq((key, "upsert", s"w$i", s"writer $i wrote $key"))
        .toDF("doc_id", "op", "source", "text"), "doc_id")
    val v = Ledger.commitPrepared(spark, table, p,
      maxAttempts = 64, waitMs = 120000, logStore = logStore)
    println(s"COMMIT v=$v")
    spark.stop()
  }
}

/** `<table> <corpus dir>`: commit a merge-on-read delete, read that
  * version, stop the session, start a new one and read the same version
  * again. Prints `SWAP rows=<first>/<second>`. Then the same for one
  * declared query per standing-artifact family over the corpus: each
  * runs in the first session and again in the second, and prints
  * `SWAP <query> rows=<n> same=<rows equal>`. */
object LedgerSessionSwap {
  /** ledger, dedup, vector (two), text, ops (two). */
  val familyQueries = Seq("q_ledger_skip", "q_dup_clusters", "q_sim_ivf",
    "q_knn_clusters", "q_bm25", "q_bloom_join", "q_compact")

  private def rows(spark: SparkSession, dir: String): Map[String, Seq[String]] =
    familyQueries.map(q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val Array(table, dir) = args.take(2)
    val first = LedgerProcessSession("ledger_swap")
    import first.implicits._
    Ledger.create(first, table,
      (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text"), "doc_id", nFiles = 4)
    Ledger.deleteWhere(first, table, 0, "doc_id", col("doc_id") < 10)
    val before = Ledger.readVersion(first, table, 1).count()
    val rowsA = rows(first, dir)
    first.stop()
    val second = LedgerProcessSession("ledger_swap")
    val after = Ledger.readVersion(second, table, 1).count()
    val rowsB = rows(second, dir)
    println(s"SWAP rows=$before/$after")
    for (q <- familyQueries)
      println(s"SWAP $q rows=${rowsA(q).size} same=${rowsA(q) == rowsB(q)}")
    second.stop()
  }
}
