package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.Tables

/** A minimal manifest-tracked table format with TIME TRAVEL — the
  * Delta/Iceberg-shaped capstone over the engine's table-maintenance
  * pieces (merge-upsert, compaction, snapshot diff, CDC). A ledger
  * table is a directory of IMMUTABLE parquet data files plus one
  * parquet manifest per VERSION:
  *
  * {{{
  *   <table>/data/v<N>/part-*.parquet        -- files added by commit N
  *   <table>/data/c<commitId>/part-*.parquet -- files added by a merge
  *   <table>/_manifest/v<N>/                 -- parquet rows: one per
  *     (path, min_key, max_key, rows)           live data file @ version N
  *   <table>/_schema/v<N>.ddl                -- version N's logical schema
  *   <table>/deletes/v<N>/                   -- its deletion vector, if any
  *   <table>/_constraints/v<N>               -- CHECK set declared at N
  *   <table>/_claims/v<N>                    -- OCC claim on version N
  *   <table>/_txns/v<N>                      -- streaming writer's txn marker
  * }}}
  *
  * Create and compactions write under the version they commit; a
  * merge stages its rewrite under a commit id before it knows which
  * version it will claim ([[prepareMerge]], [[commitPrepared]]).
  * Every writer lands its version through [[writeVersion]]: the
  * sidecars first, then the manifest, whose `_SUCCESS` marker is the
  * commit point — a reader that sees version N sees its schema and
  * deletion vector too.
  *
  * Every write is a new manifest that REFERENCES files — never mutates
  * them — so any historical version stays readable forever (until
  * vacuumed) and a read is simply "load the file list of version N".
  * Merge is copy-on-write at FILE granularity driven by the manifest's
  * per-file key ranges: only files whose [min_key, max_key] intersects
  * a changed key are rewritten; every other file carries over into the
  * new manifest by reference. Compaction rewrites the file LAYOUT
  * under a new version whose logical content is identical — version
  * identity is preserved and spec-pinned (LedgerSpec).
  *
  * Scale shape: the manifest is file-count-sized (a 100 TB table at
  * 1 GB files is ~10^5 manifest rows — kilobytes of driver state, the
  * same model-sized class as the IVF centroid table), data files never
  * move through the driver, the merge's copy-on-write reads only the
  * intersected files, and the per-file key ranges give readers
  * O(manifest) partition pruning before any data I/O — exactly the
  * Iceberg/Delta data-skipping contract. All file I/O goes through the
  * Hadoop FileSystem API, so the same code addresses HDFS/S3 paths on
  * a real cluster.
  */
object Ledger {

  /** Table root for a corpus dir (rebuilt per run — the sink under
    * test, same convention as q_sink/q_zorder_write). */
  def tableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger", dir.replaceAll(".*/", ""))

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, version: Int) =
    s"$table/_manifest/v$version"

  /** Read a small metadata file (sidecar-sized) fully as UTF-8. */
  private def readSmallFile(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      new String(buf, UTF_8)
    } finally in.close()
  }

  /** Overwrite a small metadata file with UTF-8 content. */
  private def writeSmallFile(f: org.apache.hadoop.fs.FileSystem, p: Path,
      content: String): Unit = {
    val out = f.create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** Per-file manifest stats for freshly written files under `out` —
    * one grouped pass: the key's (min_key, max_key, rows) plus a
    * (min_<c>, max_<c>) pair per extra stat column. Extra stats are
    * what make a z-ordered layout prunable on BOTH dimensions at
    * manifest level (the Iceberg per-file column-stats contract). */
  private def fileStats(spark: SparkSession, out: String, keyCol: String,
      statCols: Seq[String]): DataFrame = {
    val aggs = Seq(max(col(keyCol)).as("max_key"), count(lit(1)).as("rows")) ++
      statCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(out)
      .groupBy(input_file_name().as("path"))
      .agg(min(col(keyCol)).as("min_key"), aggs: _*)
  }

  /** Write `df` as commit `version`'s data files and return their
    * manifest rows. */
  private def writeDataFiles(spark: SparkSession, df: DataFrame,
      table: String, version: Int, keyCol: String,
      statCols: Seq[String] = Nil): DataFrame = {
    val out = s"$table/data/v$version"
    df.write.mode("overwrite").parquet(out)
    fileStats(spark, out, keyCol, statCols)
  }

  /** The extra stat columns a manifest carries beyond the key —
    * derived from its schema (min_<c>/max_<c> pairs), so merge and
    * compact MAINTAIN whatever stats the table was created with. */
  private def statColsOf(m: DataFrame): Seq[String] =
    m.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      .filterNot(_ == "key").sorted.toSeq

  private def writeManifest(spark: SparkSession, table: String, version: Int,
      files: DataFrame): Unit = {
    val cols = Seq("path", "min_key", "max_key", "rows") ++
      statColsOf(files).flatMap(c => Seq(s"min_$c", s"max_$c"))
    files.select(cols.map(col): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath(table, version))
  }

  /** Land version N: the one commit tail every writer calls. The
    * sidecars go first — the schema, the deletion vector `dv` (None
    * when no deletes are pending, or when the caller already renamed a
    * staged vector into place) and, where given, the CHECK set — then
    * the manifest, whose `_SUCCESS` marker is the commit point. A
    * reader that sees version N therefore sees its sidecars too, and a
    * writer that dies before the marker leaves a version no reader
    * counts ([[latestVersion]]). */
  private def writeVersion(spark: SparkSession, table: String, version: Int,
      files: DataFrame, schema: StructType, dv: Option[DataFrame] = None,
      checks: Option[Seq[Check]] = None): Unit = {
    writeSchema(spark, table, version, schema)
    dv.foreach(_.write.mode("overwrite").parquet(deletePath(table, version)))
    checks.foreach(writeConstraints(spark, table, version, _))
    writeManifest(spark, table, version, files)
  }

  /** The entries of directory `p`; none when it does not exist. */
  private def listDir(spark: SparkSession, table: String,
      p: String): Array[org.apache.hadoop.fs.FileStatus] =
    try fs(spark, table).listStatus(new Path(p))
    catch { case _: java.io.FileNotFoundException =>
      Array.empty[org.apache.hadoop.fs.FileStatus] }

  /** A directory's file identity — every entry's name:length:mtime,
    * sorted by name — the cache token of [[manifest]] and
    * [[deletionVector]]. It assumes Spark-only writers: a Spark rewrite
    * always gets a new part-file name, so a rewritten directory is a
    * new token. */
  private def dirToken(st: Array[org.apache.hadoop.fs.FileStatus]): String =
    st.sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString(",")

  /** The manifest of version N (file-count-sized), served from a
    * collected-manifest cache (r14, guide §5: the driver should do
    * almost no data work — and re-reading a file-count-sized manifest
    * through a full Spark job per call IS data work at the driver's
    * expense). Keyed (session, table, version, token): the cached
    * relation is bound to the session that built it, and a new session
    * must not be served one whose context has stopped. The token is the
    * manifest directory's file identity, read per call ([[dirToken]]),
    * so an in-session table rebuild or vacuum is a new key and can
    * never serve stale rows — the exact staleness
    * hazard that made r13 reject a naive (table, version) memo. The
    * cached value is the collected rows rebuilt as a LOCAL RELATION:
    * every downstream `.select("path").collect()` constant-folds to a job-free
    * LocalTableScan, and joins/prunes against the manifest carry local
    * rows instead of re-running listing + footer read + a collect job
    * per call. This is the snapshot-caching move every production
    * table format makes (Delta/Iceberg hold the live snapshot's file
    * list in driver memory). Superseded tokens' entries stay until
    * StandingState.release() clears them with every other standing
    * artifact.
    *
    * A manifest without its `_SUCCESS` marker is a PARTIAL write from a
    * crashed committer and must be invisible — reading it as committed
    * would surface a half-published version. */
  def manifest(spark: SparkSession, table: String, version: Int): DataFrame = {
    val p = manifestPath(table, version)
    val st = listDir(spark, table, p)
    require(st.exists(_.getPath.getName == "_SUCCESS"),
      s"version $version is not committed (no _SUCCESS marker in $p)")
    graft.StandingState.standing(spark, "ledger-manifest", (table, version, dirToken(st))) {
      val raw = spark.read.parquet(p)
      val rows = raw.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), raw.schema)
    }
  }

  private def schemaPath(table: String, version: Int) =
    s"$table/_schema/v$version.ddl"

  /** Record version N's schema with every field nullable. This is the
    * one place nullability is normalised: parquet reads every column
    * back nullable and files written before an ADD COLUMN backfill
    * null, so a recorded NOT NULL could only make a DDL comparison see
    * a schema change that never happened. */
  private def writeSchema(spark: SparkSession, table: String, version: Int,
      schema: StructType): Unit =
    writeSmallFile(fs(spark, table), new Path(schemaPath(table, version)),
      StructType(schema.fields.map(_.copy(nullable = true))).toDDL)

  /** The LOGICAL schema of version N. Every commit records one
    * ([[writeVersion]]); files written before an [[evolve]] read
    * through it with null for the added columns. */
  def schemaOf(spark: SparkSession, table: String, version: Int): StructType =
    StructType.fromDDL(readSmallFile(fs(spark, table), new Path(schemaPath(table, version))))

  /** Read a file set conformed to version N's logical schema: the
    * schema is passed to the parquet reader (no footer inference — the
    * sidecar already knows it), and files written before an ADD COLUMN
    * yield null for the added columns, the Delta/Iceberg read
    * contract. */
  private def readConformed(spark: SparkSession, table: String, version: Int,
      paths: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(spark, table, version)).parquet(paths: _*)

  /** A zero-row frame of `schema`: a local relation, so building it
    * runs no Spark job. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  private def deletePath(table: String, version: Int) =
    s"$table/deletes/v$version"

  /** Version N's outstanding DELETION VECTOR — the keys hidden from
    * reads without rewriting their data files (single column named
    * after the table's key). None = no merge-on-read deletes pending.
    *
    * Resolved-DV-plan cache (r14): same (token-validated) discipline
    * as [[manifest]], but the cached value is the LAZY resolved
    * DataFrame, not collected rows — a deletion vector is data-sized
    * (deleted keys), so it stays a distributed relation; what the
    * cache removes is the per-call listing + footer read + relation
    * resolution that every applyDv/readChanges pair re-paid. */
  def deletionVector(spark: SparkSession, table: String, version: Int): Option[DataFrame] = {
    val p = deletePath(table, version)
    val st = listDir(spark, table, p)
    if (st.isEmpty) None
    else Some(graft.StandingState.standing(spark, "ledger-dv-plan", (table, version, dirToken(st)))(
      spark.read.parquet(p)))
  }

  private def applyDv(spark: SparkSession, table: String, version: Int,
      data: DataFrame): DataFrame =
    deletionVector(spark, table, version) match {
      case Some(d) => data.join(d, d.columns.toSeq, "left_anti")
      case None    => data
    }

  /** TIME TRAVEL: the table's full content AS OF version N (data files
    * minus the version's deletion vector — merge-on-read). */
  def readVersion(spark: SparkSession, table: String, version: Int): DataFrame =
    readFiles(spark, table, version, manifest(spark, table, version)
      .select(col("path")).collect().map(_.getString(0)).toIndexedSeq)

  /** The live rows of version N held in `paths` (a subset of its
    * manifest): conformed to the version's schema, through its deletion
    * vector. No paths = a zero-row frame with the version's schema. */
  private def readFiles(spark: SparkSession, table: String, version: Int,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyFrame(spark, schemaOf(spark, table, version))
    else applyDv(spark, table, version,
      readConformed(spark, table, version, paths.toIndexedSeq))

  /** Manifest-level data skipping: the live files of version N whose
    * key range intersects [lo, hi] — the file list a predicate read
    * touches (O(manifest) work, zero data I/O; spec-pinned). */
  def pruneFiles(spark: SparkSession, table: String, version: Int,
      lo: Long, hi: Long): Array[String] =
    manifest(spark, table, version)
      .filter(col("max_key") >= lo && col("min_key") <= hi)
      .select(col("path")).collect().map(_.getString(0))

  /** Manifest-level skipping on a SECONDARY stat column (declared via
    * `create(statCols = ...)`, typically the second dimension of a
    * z-ordered layout): the files whose (min_<c>, max_<c>) range
    * intersects [lo, hi]. On a z layout BOTH dimensions carry narrow
    * per-file ranges, so a predicate on either one prunes — the
    * ZOrderSpec stat-width property lifted to manifest level, before
    * any file is even opened. */
  def pruneFilesBy(spark: SparkSession, table: String, version: Int,
      column: String, lo: Long, hi: Long): Array[String] =
    manifest(spark, table, version)
      .filter(col(s"max_$column") >= lo && col(s"min_$column") <= hi)
      .select(col("path")).collect().map(_.getString(0))

  /** Range lookup `column BETWEEN lo AND hi` over version N, reading
    * ONLY the manifest-pruned candidate files (exact — the residual
    * filter removes boundary rows), through the version's deletion
    * vector. The secondary-dimension read path of a z-ordered ledger
    * table. */
  def readWhereRange(spark: SparkSession, table: String, version: Int,
      column: String, lo: Long, hi: Long): DataFrame =
    readFiles(spark, table, version, pruneFilesBy(spark, table, version, column, lo, hi))
      .filter(col(column).between(lo, hi))

  /** CREATE: version 0 from `df`, range-layout into `nFiles` files so
    * the per-file key ranges are disjoint and pruning/copy-on-write
    * have real structure to work with.
    *
    * `clusterBy` commits an ALTERNATIVE layout — e.g. a z-order column
    * over (key, dim2) — files are range-partitioned and sorted on the
    * cluster expression instead of the key; `statCols` adds per-file
    * (min, max) manifest stats for secondary columns, which is what
    * makes the z layout prunable on EITHER dimension before any data
    * I/O ([[pruneFilesBy]]). Key pruning stays correct under any
    * layout (intersection logic never assumed disjoint ranges), and
    * later merges/compactions maintain the declared stat columns. */
  def create(spark: SparkSession, table: String, df: DataFrame,
      keyCol: String, nFiles: Int = 8, clusterBy: Option[Column] = None,
      statCols: Seq[String] = Nil, checks: Seq[Check] = Nil): Unit = {
    val root = fs(spark, table)
    // validation BEFORE the delete: a refused CREATE (unresolvable
    // check, violating df) must leave any pre-existing table at this
    // path intact — the same loud-and-atomic contract every other
    // constraint site honors. Deleting first turned a refusal into
    // data loss.
    validateChecks(checks, df.schema, s"CREATE $table")
    enforceChecks(checks, df, s"CREATE $table")
    root.delete(new Path(table), true)
    val laid = clusterBy match {
      case Some(z) => df.repartitionByRange(nFiles, z).sortWithinPartitions(z)
      case None    => df.repartitionByRange(nFiles, col(keyCol))
    }
    val files = writeDataFiles(spark, laid, table, 0, keyCol, statCols)
    writeVersion(spark, table, 0, files, df.schema,
      checks = Some(checks).filter(_.nonEmpty))
  }

  /** SCHEMA EVOLUTION: ADD COLUMN as a METADATA-ONLY commit, the
    * Delta/Iceberg contract. Version N+1 carries every data file of
    * version N BY REFERENCE (zero data I/O — at 100 TB an ADD COLUMN
    * must not touch 100 TB of parquet) and records the widened logical
    * schema in a sidecar; reads of any file written before the
    * evolution backfill the added columns with null via the conformed
    * parquet read. Later merges rewrite only copy-on-write-intersected
    * files with the new physical schema, so a table converges to the
    * evolved layout exactly as fast as its keys churn. */
  def evolve(spark: SparkSession, table: String, fromVersion: Int,
      addCols: Seq[StructField]): Unit = {
    val version = fromVersion + 1
    val base = schemaOf(spark, table, fromVersion)
    val dup = addCols.map(_.name).filter(base.fieldNames.contains)
    require(dup.isEmpty, s"columns already exist: ${dup.mkString(",")}")
    writeVersion(spark, table, version, manifest(spark, table, fromVersion),
      StructType(base.fields ++ addCols), deletionVector(spark, table, fromVersion))
  }

  /** DELETE WHERE as a MERGE-ON-READ commit (Iceberg v2 / Delta
    * deletion vectors): the matching KEYS are appended to the deletion
    * vector and every data file carries over by reference — a 0.001 %
    * delete on a 100 TB table writes megabytes of keys instead of
    * rewriting every intersected gigabyte file. Reads anti-join the
    * vector; the next copy-on-write MERGE drops vector keys whose
    * files it rewrites, and COMPACT materializes the deletes away
    * entirely. Returns the number of newly deleted keys. */
  def deleteWhere(spark: SparkSession, table: String, fromVersion: Int,
      keyCol: String, pred: Column): Long = {
    val version = fromVersion + 1
    val matching = readVersion(spark, table, fromVersion)
      .filter(pred).select(col(keyCol))
    val n = matching.count()
    val dv = deletionVector(spark, table, fromVersion)
      .map(_.unionByName(matching).distinct()).getOrElse(matching)
    writeVersion(spark, table, version, manifest(spark, table, fromVersion),
      schemaOf(spark, table, fromVersion), Some(dv))
    n
  }

  // ------------------------------------------------------------------
  // CHECK constraints (the Delta `ADD CONSTRAINT ... CHECK` contract):
  // declared invariants enforced ON THE COMMIT PATH, so a violating
  // changeset is refused loudly and atomically — no version advances,
  // not even the changeset's valid rows. A row satisfies a check only
  // if the expression is strictly TRUE (NULL counts as a violation,
  // like Delta's invariant check — a quality gate that silently admits
  // NULLs isn't one). Enforcement costs one CHANGESET-sized aggregate
  // per commit (all checks folded into a single pass), never a table
  // scan: at 100 TB the table is huge but every commit is feed-sized.
  // ------------------------------------------------------------------

  /** A named CHECK constraint; `expr` is a SQL boolean over the
    * table's columns (e.g. `"n_chars >= 0"`). */
  final case class Check(name: String, expr: String) {
    require(!name.contains("\t") && !name.contains("\n") &&
      !expr.contains("\t") && !expr.contains("\n"),
      "check name/expr must not contain tabs or newlines")
  }

  private def constraintsPath(table: String, version: Int) =
    s"$table/_constraints/v$version"

  private def writeConstraints(spark: SparkSession, table: String,
      version: Int, checks: Seq[Check]): Unit =
    writeSmallFile(fs(spark, table), new Path(constraintsPath(table, version)),
      checks.map(c => s"${c.name}\t${c.expr}").mkString("\n"))

  /** The CHECK set in force at `version`: the sidecar at the nearest
    * version ≤ it. Constraints declared at version K bind every commit
    * AFTER K until re-declared — no per-commit carry step to forget
    * (time travel below K correctly sees none), and the walk is over
    * version NUMBERS, never data. */
  def constraintsOf(spark: SparkSession, table: String,
      version: Int): Seq[Check] = {
    val f = fs(spark, table)
    (version to 0 by -1).iterator
      .map(v => new Path(constraintsPath(table, v)))
      .find(f.exists)
      .map(readSmallFile(f, _).split("\n").toSeq.filter(_.nonEmpty)
        .map { l => val Array(n, e) = l.split("\t", 2); Check(n, e) })
      .getOrElse(Nil)
  }

  /** DECLARATION-TIME validation: every check expression must RESOLVE
    * against the table schema and analyze to a boolean — a typo'd
    * column name or a non-boolean expression is refused at the moment
    * the constraint is declared (create/setConstraints), never left to
    * surface as an analysis error in the middle of some later merge's
    * rewrite. Metadata-only: analysis over a zero-row frame, no scan.
    * Overload of [[enforceChecks]]'s content pass, not a replacement —
    * both run at declaration (resolve first, then the one content
    * scan). */
  private def validateChecks(checks: Seq[Check], schema: StructType,
      what: String): Unit = {
    if (checks.isEmpty) return
    val empty = emptyFrame(SparkSession.active, schema)
    checks.foreach { c =>
      val analyzed =
        try empty.select(expr(c.expr).as("_v"))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$what refused: CHECK ${c.name} ('${c.expr}') does not " +
              s"resolve against the table schema " +
              s"(${schema.fieldNames.mkString(", ")}): ${e.getMessage}")
        }
      require(analyzed.schema.head.dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"$what refused: CHECK ${c.name} ('${c.expr}') must be a boolean " +
        s"expression, got ${analyzed.schema.head.dataType.simpleString}")
    }
  }

  /** One pass over `rows`, all checks at once; throws listing EVERY
    * violated check with its violation count. */
  private def enforceChecks(checks: Seq[Check], rows: DataFrame,
      what: String): Unit = {
    if (checks.isEmpty) return
    val aggs = checks.map(c =>
      sum(when(coalesce(expr(c.expr), lit(false)), 0L).otherwise(1L)).as(c.name))
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    val bad = checks.zipWithIndex.collect {
      case (c, i) if !r.isNullAt(i) && r.getLong(i) > 0 =>
        s"${c.name} (${r.getLong(i)} rows violate '${c.expr}')"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"$what refused by CHECK constraint(s): ${bad.mkString("; ")}")
  }

  /** Enforce the checks binding the commit that will produce
    * `fromVersion + 1` against a changeset's incoming rows (upserts
    * only — deletes add no data). */
  private def enforceOnChanges(spark: SparkSession, table: String,
      fromVersion: Int, changes: DataFrame, keyCol: String): Unit = {
    val checks = constraintsOf(spark, table, fromVersion)
    if (checks.nonEmpty)
      enforceChecks(checks,
        changes.filter(col("op") === "upsert").drop("op"),
        s"MERGE into $table@v$fromVersion")
  }

  /** Declare (or re-declare) the table's CHECK set as a METADATA-ONLY
    * commit: validates the CURRENT content first (the one full scan
    * Delta's ADD CONSTRAINT pays too — a constraint the table already
    * breaks must not be addable), then writes the sidecar at version
    * `fromVersion + 1` with every data file carried by reference.
    * Re-declaring with `Nil` drops all constraints. */
  def setConstraints(spark: SparkSession, table: String, fromVersion: Int,
      checks: Seq[Check]): Unit = {
    val version = fromVersion + 1
    val current = readVersion(spark, table, fromVersion)
    // resolve-first: a typo'd column or non-boolean expr is refused
    // HERE, by name, before the content scan even plans
    validateChecks(checks, current.schema,
      s"ADD CONSTRAINT on $table@v$fromVersion")
    enforceChecks(checks, current,
      s"ADD CONSTRAINT on $table@v$fromVersion")
    writeVersion(spark, table, version, manifest(spark, table, fromVersion),
      schemaOf(spark, table, fromVersion), deletionVector(spark, table, fromVersion),
      Some(checks))
  }

  /** The MERGE precondition, checked loudly: one cheap changeset-sized
    * agg — count vs distinct-key count — catches both duplicate and
    * null keys before they fan out in the full-outer join and silently
    * write a corrupted version. */
  private def requireUniqueKeys(changes: DataFrame, keyCol: String): Unit = {
    val r = changes.agg(count(lit(1)), countDistinct(col(keyCol))).head()
    require(r.getLong(0) == r.getLong(1),
      s"changeset keys must be unique and non-null: ${r.getLong(0)} rows " +
        s"vs ${r.getLong(1)} distinct non-null '$keyCol' values")
  }

  /** MERGE (upsert + delete changeset) as copy-on-write at file
    * granularity: `changes` rows carry (key, op, payload...) with op ∈
    * {upsert, delete}. Files whose key range intersects no change key
    * carry over BY REFERENCE; intersected files are re-read, full-outer
    * joined with the changeset, and rewritten; change keys matching no
    * existing file range become inserts in the rewrite. PRECONDITION
    * (checked): changeset keys are UNIQUE and non-null (the standard
    * MERGE contract — Delta likewise rejects a source row matching
    * twice); a key carrying two ops would fan out in the full-outer
    * join, so the guard fails loudly instead.
    *
    * One MERGE path: the rewrite is [[prepareMerge]] against
    * `fromVersion`, the publish is [[commitPrepared]], so every merge
    * CLAIMS its version. Alone on the table it commits
    * `fromVersion + 1`; a second writer from the same base rebases past
    * a disjoint interleaved commit or aborts with
    * ConcurrentModificationException, never overwrites. Returns the
    * committed version. */
  def merge(spark: SparkSession, table: String, fromVersion: Int,
      changes: DataFrame, keyCol: String): Int =
    commitPrepared(spark, table, prepareMerge(spark, table, fromVersion, changes, keyCol))

  /** COMPACT: rewrite version N's file layout into `nFiles` range-
    * partitioned files under version N+1 — logical content IDENTICAL
    * (time travel to N still reads the old files; LedgerSpec pins
    * readVersion(N+1) ≡ readVersion(N) row-for-row).
    *
    * `clusterBy` compacts into an ALTERNATIVE layout — passing the
    * same z-order expression the table was created with RESTORES
    * z-locality that key-ranged merge rewrites progressively loosen
    * (Delta's `OPTIMIZE ZORDER BY`): per-file secondary-dim ranges
    * narrow again, so [[pruneFilesBy]] is back to a tight subset. */
  def compact(spark: SparkSession, table: String, fromVersion: Int,
      keyCol: String, nFiles: Int = 2,
      clusterBy: Option[Column] = None): Unit = {
    val version = fromVersion + 1
    val content = readVersion(spark, table, fromVersion)
    val laid = clusterBy match {
      case Some(z) => content.repartitionByRange(nFiles, z).sortWithinPartitions(z)
      case None    => content.repartitionByRange(nFiles, col(keyCol))
    }
    val files = writeDataFiles(spark, laid, table, version, keyCol,
      statColsOf(manifest(spark, table, fromVersion)))
    // no DV carry: the rewrite read through the vector, so the deletes
    // are physically applied and the compacted version starts clean
    writeVersion(spark, table, version, files, schemaOf(spark, table, fromVersion))
  }

  /** Incremental BIN-PACK compaction (Iceberg `rewriteDataFiles`
    * binPack / Delta OPTIMIZE): coalesce ONLY the undersized files —
    * every file already at or above `targetRows` carries BY REFERENCE.
    * [[compact]] rewrites the whole table, which is the right tool
    * after heavy churn but a corpus-sized job at 100 TB; small-file
    * debt accumulates at the append frontier (every merge's inserts
    * land in fresh files), so the routine maintenance pass must cost
    * O(small files), not O(table).
    *
    * Selection is by LIVE row count (physical rows minus DV-hidden
    * rows — a file that reads small IS small, whatever its parquet
    * footer says); candidates are bounded manifest-sized, then the
    * selected files are read ONCE — raw, file-tagged, materialized —
    * and the exact live counts, the packed content (hidden rows
    * physically applied), and the released DV key set all derive from
    * that single read ([[prepareMerge]]'s membership discipline; keys hiding
    * in carried files stay in the vector). `clusterBy` packs into the
    * table's alternative layout — on a z-ordered table pass the same
    * z expression the table was created with, so routine bin-pack
    * maintenance PRESERVES the narrow both-dim stats the full
    * `OPTIMIZE ZORDER` pass established instead of silently repacking
    * the frontier in key order. Logical content is IDENTICAL to
    * `fromVersion` (spec-pinned). Returns the number of files packed
    * away, 0 when fewer than `minInputFiles` qualify (no version is
    * written — a maintenance no-op must not burn a version number or
    * invalidate caches). */
  def compactBinPack(spark: SparkSession, table: String, fromVersion: Int,
      keyCol: String, targetRows: Long, minInputFiles: Int = 2,
      clusterBy: Option[Column] = None): Int = {
    require(targetRows > 0, "targetRows must be positive")
    val version = fromVersion + 1
    val m = manifest(spark, table, fromVersion)
    val dv = deletionVector(spark, table, fromVersion)
    // Selection is by LIVE rows, not the manifest's physical count: a
    // file whose physical rows clear targetRows but whose DV-hidden
    // mass drags its LIVE count under it IS small-file debt (reads skip
    // the hidden rows) and must be packable. The manifest alone can't
    // see DV mass, so candidates are bounded first by range-joining the
    // DV keys against per-file key ranges (manifest-sized driver work;
    // ranges can overlap after merges, so this is an upper bound on
    // hidden rows ⇒ a SUPERSET of the truly live-small files), then
    // trimmed to the exact live count from the single candidate read
    // below. Candidate-set I/O, never table I/O.
    val cand: Array[String] = dv match {
      case None =>
        m.filter(col("rows") < targetRows)
          .select(col("path")).collect().map(_.getString(0))
      case Some(d) =>
        val k = d.columns.head
        val hid = d.join(broadcast(m),
            col(k) >= col("min_key") && col(k) <= col("max_key"))
          .groupBy(col("path")).agg(count(lit(1)).as("_hid_ub"))
        m.join(hid, Seq("path"), "left")
          .filter(col("rows") - coalesce(col("_hid_ub"), lit(0L)) < targetRows)
          .select(col("path")).collect().map(_.getString(0))
    }
    if (cand.length < minInputFiles) return 0
    // ONE read of the candidate files — raw (through no DV), tagged
    // with the source file, materialized: per-file live counts, the
    // packed content, and the released DV key set all derive from it.
    val (raw, rawRdd) = graft.StandingState.materializeStatsReset(
      readConformed(spark, table, fromVersion, cand.toIndexedSeq)
        .withColumn("_file", input_file_name()))
    try {
      val tagged = dv match {
        case Some(d) =>
          val k = d.columns.head
          raw.join(d.select(col(k).as(keyCol))
              .withColumn("_hidden", lit(true)), Seq(keyCol), "left")
            .withColumn("_hidden", coalesce(col("_hidden"), lit(false)))
        case None => raw.withColumn("_hidden", lit(false))
      }
      val stats = tagged.groupBy(col("_file"))
        .agg(count(lit(1)).as("_tot"),
          sum(when(col("_hidden"), 1L).otherwise(0L)).as("_hid"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val selected = stats.filter { case (_, tot, hid) => tot - hid < targetRows }
      if (selected.length < minInputFiles) return 0
      val selPaths = selected.map(_._1).toSet
      val liveRows = selected.map { case (_, tot, hid) => tot - hid }.sum
      val nOut = math.max(1L, (liveRows + targetRows - 1) / targetRows).toInt
      val content = tagged
        .filter(col("_file").isInCollection(selPaths.toSeq) && !col("_hidden"))
        .drop("_file", "_hidden")
      // z-aware packing: on a z-ordered table the nightly bin-pack must
      // PRESERVE the layout contract the expensive full-compact
      // (OPTIMIZE ZORDER) pass established — packing the frontier in
      // key order would silently widen the secondary-dim min/max stats
      // the pruned reads depend on. Same contract as [[compact]]'s
      // clusterBy.
      val laid = clusterBy match {
        case Some(z) => content.repartitionByRange(nOut, z).sortWithinPartitions(z)
        case None    => content.repartitionByRange(nOut, col(keyCol))
      }
      val packed = writeDataFiles(spark, laid, table, version, keyCol, statColsOf(m))
      val successorDv = dv.map { d =>
        val k = d.columns.head
        val packedKeys = tagged.filter(col("_file").isInCollection(selPaths.toSeq))
          .select(col(keyCol).as(k))
        d.join(packedKeys, Seq(k), "left_anti")
      }
      val carried = m.filter(!col("path").isInCollection(selPaths.toSeq :+ ""))
      writeVersion(spark, table, version, carried.unionByName(packed),
        schemaOf(spark, table, fromVersion), successorDv)
      selected.length
    } finally rawRdd.unpersist(blocking = false)
  }

  /** Whether version N is still COMMITTED AND READABLE — its manifest
    * (with the `_SUCCESS` commit marker) survives. [[vacuum]] drops
    * expired manifests, so a maintainer holding a version number from
    * before a vacuum must check this before reading a change feed
    * anchored at it (a half-gone feed must re-bootstrap loudly, not
    * read through missing history). */
  def versionCommitted(spark: SparkSession, table: String, version: Int): Boolean =
    version >= 0 &&
      fs(spark, table).exists(new Path(manifestPath(table, version) + "/_SUCCESS"))

  /** Latest COMMITTED version — highest v<N> manifest directory whose
    * `_SUCCESS` marker landed. The marker gate is what makes crash
    * recovery work: a committer that died mid-manifest-write leaves a
    * partial v<N> dir, and counting it would wedge [[commitBatch]]'s
    * replay forever (`latestVersion == version` with the commit point
    * absent). Treating marker-less manifests as nonexistent lets the
    * replay recompute and overwrite the partial dir in place. */
  def latestVersion(spark: SparkSession, table: String): Int = {
    val dir = new Path(s"$table/_manifest")
    val f = fs(spark, table)
    if (!f.exists(dir)) -1
    else f.listStatus(dir).map(_.getPath)
      .collect { case p if p.getName.startsWith("v")
          && f.exists(new Path(p, "_SUCCESS")) => p.getName.drop(1).toInt }
      .foldLeft(-1)(math.max)
  }

  /** VACUUM: retention-based physical GC. Keeps every data file
    * referenced by any manifest of version ≥ `keepFrom` (manifests are
    * the reference-counting source of truth — a file created at v0 and
    * carried by reference into v5's manifest SURVIVES a vacuum keeping
    * v5, which is what makes copy-on-write sharing safe to clean), then
    * drops the older manifests so the expired versions are gone rather
    * than half-readable. Returns (filesDeleted, filesKept).
    *
    * Scale shape: the reachability set is a union of manifests —
    * file-count-sized metadata, no data I/O; deletes are per-file
    * FileSystem calls exactly like Delta's VACUUM. */
  def vacuum(spark: SparkSession, table: String, keepFrom: Int): (Int, Int) = {
    val f = fs(spark, table)
    val latest = latestVersion(spark, table)
    require(keepFrom <= latest, s"keepFrom=$keepFrom > latest=$latest")
    val live = (keepFrom to latest).flatMap { v =>
      manifest(spark, table, v).select(col("path"))
        .collect().map(r => new Path(r.getString(0)).toUri.getPath)
    }.toSet
    // Files under data/c<commitId> are OCC staging ([[prepareMerge]]
    // writes its rewrite there BEFORE any manifest references it): a
    // c* file unreferenced by any manifest may belong to an IN-FLIGHT
    // prepared merge, and deleting it would let the later
    // commitPrepared publish a manifest pointing at vanished files —
    // silent data loss. So c* files are vacuum candidates ONLY when an
    // expired (about-to-drop) manifest references them; unreferenced
    // staging files are left for out-of-band cleanup (an aborted
    // prepare leaks its dir — the Delta/Iceberg uncommitted-file
    // contract, cleaned by age, never by reachability).
    val expired = (0 until keepFrom)
      .filter(v => f.exists(new Path(manifestPath(table, v) + "/_SUCCESS")))
      .flatMap { v =>
        manifest(spark, table, v).select(col("path"))
          .collect().map(r => new Path(r.getString(0)).toUri.getPath)
      }.toSet
    val dataDir = new Path(s"$table/data")
    val all =
      if (!f.exists(dataDir)) Array.empty[Path]
      else f.listStatus(dataDir).flatMap(d => f.listStatus(d.getPath))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .filter(p => !p.getParent.getName.startsWith("c")
          || expired.contains(p.toUri.getPath) || live.contains(p.toUri.getPath))
    val (keep, drop) = all.partition(p => live.contains(p.toUri.getPath))
    drop.foreach(p => f.delete(p, false))
    (0 until keepFrom).foreach { v =>
      f.delete(new Path(manifestPath(table, v)), true)
      f.delete(new Path(schemaPath(table, v)), false)
      f.delete(new Path(deletePath(table, v)), true)
      f.delete(new Path(claimPath(table, v)), false)
      // txn markers couple to snapshot retention, like Delta's
      // SetTransaction: a streaming writer idle past the retention
      // window loses its replay token (see [[lastTxn]])
      f.delete(new Path(txnPath(table, v)), false)
    }
    (drop.length, keep.length)
  }

  /** AGE-BASED GC for leaked OCC staging — the out-of-band cleanup the
    * [[vacuum]] contract names: an ABORTED [[prepareMerge]] leaks its
    * `data/c<commitId>` dir forever, because reachability can never
    * distinguish it from an IN-FLIGHT prepare (vacuum deliberately
    * skips both). Age can: a staging dir untouched for longer than any
    * plausible prepare-to-commit latency is abandoned. Deletes every
    * c* dir that is (a) unreferenced by ANY committed manifest — a
    * referenced c* dir is live table data — and (b) older than
    * `olderThanMs` (newest of dir + file mtimes). The operator owns
    * the age contract: set it above the longest prepare-to-commit
    * window in the deployment (the Delta/Iceberg uncommitted-file
    * cleanup contract). Returns the number of dirs collected. */
  def cleanStaging(spark: SparkSession, table: String, olderThanMs: Long): Int = {
    val f = fs(spark, table)
    val dataDir = new Path(s"$table/data")
    if (!f.exists(dataDir)) return 0
    val live = (0 to latestVersion(spark, table)).iterator
      .filter(v => f.exists(new Path(manifestPath(table, v) + "/_SUCCESS")))
      .flatMap(v => manifest(spark, table, v).select(col("path"))
        .collect().map(r => new Path(r.getString(0)).toUri.getPath))
      .toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    var collected = 0
    f.listStatus(dataDir)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("c"))
      .foreach { d =>
        val kids = f.listStatus(d.getPath)
        val newest = (d.getModificationTime +: kids.map(_.getModificationTime)).max
        val referenced = kids.exists(k => live.contains(k.getPath.toUri.getPath))
        if (!referenced && newest < cutoff) {
          f.delete(d.getPath, true)
          collected += 1
        }
      }
    collected
  }

  /** EXACTLY-ONCE STREAMING COMMIT — the `foreachBatch` body that turns
    * a Structured Streaming micro-batch into one ledger version,
    * routed THROUGH the optimistic-concurrency path so the stream can
    * COEXIST with any other writer on the same table (replicate + OCC
    * batch merges serialize instead of aborting — LedgerStreamSpec).
    * Idempotency is Delta's per-writer transaction marker, not version
    * arithmetic: the (appId, batchId) pair is recorded in the commit's
    * txn sidecar, and a replayed batch — delivered again after a crash
    * between commit and checkpoint — no-ops on the [[lastTxn]] check
    * EVEN IF other writers advanced the version in between (the old
    * `version == batchId + 1` gate broke exactly there). A conflict
    * with a concurrent writer (hit-file overlap) re-prepares against
    * the new head and retries: a stream cannot drop a batch, so it
    * pays the re-rewrite where a batch job would surface the abort.
    *
    * A batch carrying columns the table lacks — upstream schema
    * evolution flowing through a CDC feed — auto-widens the target
    * first ([[evolve]] under a claim), the Delta `mergeSchema` sink
    * behavior; the restart contract is proven end to end in
    * LedgerStreamSpec. Returns true iff this call committed. Rows
    * upsert by default; an `op` column (upsert/delete) passes through
    * to MERGE for streaming deletes. */
  def commitBatch(spark: SparkSession, table: String, batchId: Long,
      batch: DataFrame, keyCol: String, appId: String = "stream",
      logStore: LogStore = AtomicCreateLogStore): Boolean = {
    if (lastTxn(spark, table, appId).exists(_ >= batchId)) return false
    val changes =
      if (batch.columns.contains("op")) batch
      else batch.withColumn("op", lit("upsert"))
    ensureColumns(spark, table, changes, logStore)
    var attempt = 0
    while (true) {
      attempt += 1
      val base = latestVersion(spark, table)
      val p = prepareMerge(spark, table, base, changes, keyCol)
      try {
        return commitPrepared(spark, table, p, logStore = logStore,
          txn = Some((appId, batchId))) >= 0
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // a conflicting interleaved commit: the staged rewrite is
          // unusable (it read files the winner replaced) — re-prepare
          // against the new head. Bounded: persistent livelock means
          // a misconfigured pipeline (two writers fighting over the
          // same keys forever) and must surface.
          if (attempt >= 8) throw e
      }
    }
    false // unreachable
  }

  /** Widen `table` so it carries every non-op column of `changes` —
    * ADD COLUMN under a LogStore claim, so the metadata commit
    * serializes with concurrent OCC writers. No-op when the schema
    * already covers the batch. */
  private def ensureColumns(spark: SparkSession, table: String,
      changes: DataFrame, logStore: LogStore): Unit = {
    val want = changes.schema.fields.filterNot(_.name == "op")
    var done = false
    while (!done) {
      val latest = latestVersion(spark, table)
      val have = schemaOf(spark, table, latest).fieldNames.toSet
      val missing = want.filterNot(f => have(f.name))
      if (missing.isEmpty) done = true
      else if (logStore.tryClaim(spark, table, latest + 1))
        evolve(spark, table, latest, missing.toIndexedSeq)
      else
        // another writer owns the next version: wait for its commit
        // point, then re-evaluate against the new head
        waitForCommitted(spark, table, latest + 1, 30000)
    }
  }

  // ---- secondary-column file skipping (bloom sidecar) ----

  private def statsPath(table: String, version: Int, column: String) =
    s"$table/_stats/v$version-$column"

  private val bloomProbes = 4

  /** Build version N's per-file BLOOM SIDECAR for a secondary column —
    * the point-lookup skipping lever the key-range manifest can't give:
    * on a key-ranged layout every file spans the full domain of a
    * non-key column, so min/max prunes NOTHING for `WHERE text = ?`,
    * while a per-file bloom names the one or two files that can
    * possibly contain the value (Delta's bloom index / Parquet's
    * column bloom, lifted to MANIFEST level so pruning happens before
    * any file is even opened). One distributed pass: k=4 positions per
    * value via xxhash64(value, seed), OR-folded per (file, 64-bit
    * slot); the sidecar is SPARSE (path, slot, bits) rows. Bloom width
    * scales with the largest file (~12 bits/row → fpp ≈ 0.6 %), so the
    * sidecar is ~1.5 bits/row of the table — index-sized, never
    * data-sized. */
  def analyzeColumn(spark: SparkSession, table: String, version: Int,
      column: String): Unit = {
    val m = manifest(spark, table, version)
    val paths = m.select(col("path")).collect().map(_.getString(0))
    val maxRows = m.agg(max(col("rows"))).head().getLong(0)
    val nbits = math.max(4096L, java.lang.Long.highestOneBit(maxRows * 12) * 2)
    val pos = (0 until bloomProbes).map(i =>
      pmod(xxhash64(col(column), lit(i)), lit(nbits)))
    readConformed(spark, table, version, paths.toIndexedSeq)
      .select(input_file_name().as("path"), explode(array(pos: _*)).as("pos"))
      .select(col("path"), shiftright(col("pos"), 6).as("slot"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").as("mask"))
      .groupBy(col("path"), col("slot"))
      .agg(expr("bit_or(mask)").as("bits"), lit(nbits).as("nbits"))
      .write.mode("overwrite").parquet(statsPath(table, version, column))
  }

  /** The live files of version N that can possibly contain one of
    * `values` in `column`, per the bloom sidecar ([[analyzeColumn]]
    * must have run). A candidate file must have ALL k probe bits of at
    * least one value set. O(sidecar) work, zero data I/O. Values must
    * be literals of the column's type (the hash is type-sensitive). */
  def pruneFilesByValue(spark: SparkSession, table: String, version: Int,
      column: String, values: Seq[Any]): Array[String] = {
    import spark.implicits._
    val sc = spark.read.parquet(statsPath(table, version, column))
    val nbits = sc.select(col("nbits")).head().getLong(0)
    // probe positions for every (value, seed), computed by the SAME
    // engine expression as the build (one tiny one-row job)
    val probes = for (vid <- values.indices; i <- 0 until bloomProbes)
      yield (vid, i)
    val posRow = spark.range(1).select(probes.map { case (vid, i) =>
      pmod(xxhash64(lit(values(vid)), lit(i)), lit(nbits))
    }: _*).head()
    val probeDf = probes.zipWithIndex.map { case ((vid, i), idx) =>
      val p = posRow.getLong(idx)
      (vid, i, p >> 6, 1L << (p & 63))
    }.toDF("vid", "pid", "pslot", "pmask")
    sc.join(broadcast(probeDf),
        col("slot") === col("pslot") && (col("bits").bitwiseAND(col("pmask")) =!= 0))
      .groupBy(col("path"), col("vid"))
      .agg(countDistinct(col("pid")).as("nhit"))
      .filter(col("nhit") === bloomProbes)
      .select(col("path")).distinct().collect().map(_.getString(0))
  }

  /** Point lookup `column IN (values)` over version N reading ONLY the
    * bloom-candidate files — at 100 TB a needle-in-haystack lookup on
    * a non-layout column reads a couple of files instead of the table.
    * Exact (the residual filter removes bloom false positives). */
  def readWhereIn(spark: SparkSession, table: String, version: Int,
      column: String, values: Seq[Any]): DataFrame =
    readFiles(spark, table, version, pruneFilesByValue(spark, table, version, column, values))
      .filter(col(column).isInCollection(values))

  // ---- optimistic concurrency (multi-writer commits) ----

  private def claimPath(table: String, version: Int) =
    s"$table/_claims/v$version"

  /** The OCC claim primitive — the portability boundary Delta calls
    * LogStore. Claiming a version must be ATOMIC-EXCLUSIVE: of any
    * number of concurrent claimants exactly one may win. What provides
    * that atomicity is storage-specific, so it is a trait, not an
    * assumption baked into the commit protocol:
    *
    *  - HDFS / local / ABFS: `FileSystem.create(path, overwrite=false)`
    *    is atomic-exclusive by the FS contract — [[AtomicCreateLogStore]],
    *    the shipped impl.
    *  - plain S3: create-exclusive does NOT exist (PUT overwrites
    *    blindly); the same role must be played by a conditional put
    *    (`If-None-Match: *`) or an external coordination table
    *    (DynamoDB — Delta's S3DynamoDBLogStore). Swap the trait impl;
    *    the commit protocol above it is unchanged.
    */
  trait LogStore {
    /** Atomically claim `version` of `table`; true iff this caller won. */
    def tryClaim(spark: SparkSession, table: String, version: Int): Boolean
  }

  /** Atomic create-exclusive claim file — valid wherever the storage
    * honors exclusive creation (HDFS server-side, ABFS). Not safe on
    * plain S3A; see [[LogStore]].
    *
    * The `file://` scheme is special-cased: Hadoop's LOCAL FileSystem
    * implements `create(path, overwrite=false)` as an exists() check
    * followed by an open — a TOCTOU window two in-JVM racers can both
    * pass (caught by the 8-writer stress spec: two writers claimed the
    * same version and one manifest overwrote the other). POSIX
    * `open(O_CREAT|O_EXCL)` via `File.createNewFile` is the real
    * atomic primitive locally. */
  object AtomicCreateLogStore extends LogStore {
    def tryClaim(spark: SparkSession, table: String, version: Int): Boolean = {
      val p = new Path(claimPath(table, version))
      val f = fs(spark, table)
      if (f.getScheme == "file") {
        val local = new java.io.File(p.toUri.getPath)
        local.getParentFile.mkdirs()
        try local.createNewFile()
        catch { case _: java.io.IOException => false }
      } else {
        try { f.create(p, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    }
  }

  /** A MERGE whose expensive work (copy-on-write rewrite) is done but
    * whose version is not yet claimed — the unit of optimistic
    * concurrency. Data files live under a commit-id dir (not a version
    * dir) so the same rewrite can commit as v(N+1) or, after a rebase
    * over an interleaved disjoint commit, as v(N+2) without moving a
    * byte. All fields are file-count- or changeset-sized. */
  final case class PreparedMerge(
      baseVersion: Int, basePaths: Set[String], hitFiles: Set[String],
      rewrittenFiles: DataFrame, changeKeys: DataFrame,
      stagedDv: Option[String], baseSchemaDdl: String,
      commitId: String)

  /** Phase 1 of a MERGE ([[merge]] is this plus [[commitPrepared]]):
    * compute the copy-on-write rewrite against `fromVersion` and stage
    * its outputs, claiming nothing (unique changeset keys, upsert/delete
    * ops, membership-based deletion-vector release). It may run
    * CONCURRENTLY with other writers — conflicts surface at
    * [[commitPrepared]]. A base carrying a pending
    * deletion vector is supported: the rewrite reads THROUGH the
    * vector (hidden rows never resurrect), and the successor vector
    * (base DV minus physically-applied minus changeset-resolved keys)
    * is STAGED under the commit-id dir, renamed into place only at
    * commit — so an interleaved commit can still validate/rebase
    * against it (the deletion-vector rules of [[requireDisjoint]]). */
  def prepareMerge(spark: SparkSession, table: String, fromVersion: Int,
      changes: DataFrame, keyCol: String): PreparedMerge = {
    requireUniqueKeys(changes, keyCol)
    // checks bind the OCC path at PREPARE time against the base the
    // writer read; an interleaved setConstraints surfaces at
    // commitPrepared (constraint-set conflict rule) and forces a
    // re-prepare under the new set
    enforceOnChanges(spark, table, fromVersion, changes, keyCol)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val m = manifest(spark, table, fromVersion)
    val basePaths = m.select(col("path")).collect().map(_.getString(0)).toSet
    // file-count-sized × changeset range join: which files does any
    // change key hit? (broadcast the manifest — it is model-sized)
    val hit = changes.select(col(keyCol).as("ck")).distinct()
      .join(broadcast(m), col("ck") >= col("min_key") && col("ck") <= col("max_key"))
      .select(col("path")).distinct().collect().map(_.getString(0)).toSet
    val existing = readFiles(spark, table, fromVersion, hit.toSeq)
    // payload = every non-key, non-op column; upsert takes the change
    // side, carried-through rows keep their own values
    val payload = changes.columns.filterNot(c => c == keyCol || c == "op").toSeq
    val ch = changes.select((col(keyCol) +: col("op") +:
      payload.map(c => col(c).as(s"_$c"))): _*)
    val merged = existing.join(ch, Seq(keyCol), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select((col(keyCol) +: payload.map(c =>
        when(col("op") === "upsert", col(s"_$c")).otherwise(col(c)).as(c))): _*)
    // rewritten files recompute whatever stat columns the table was
    // created with (z-dim min/max survive churn; values come from the
    // actual rewritten rows, so they stay exact even though a key-
    // ranged rewrite loosens z locality — compaction restores it)
    val out = s"$table/data/c$commitId"
    merged.repartitionByRange(math.max(1, hit.size), col(keyCol))
      .write.mode("overwrite").parquet(out)
    val rewritten = fileStats(spark, out, keyCol, statColsOf(m))
    // successor deletion vector: release a DV key only if it was
    // PHYSICALLY APPLIED — its row lives in a hit file (the rewrite
    // read through the vector, so the row is gone from the new files)
    // or the changeset resolved it (a re-upsert of a DV-deleted key
    // must become visible again; a merge-delete is now materialized).
    // Range containment is NOT membership: merges can produce
    // OVERLAPPING file ranges (a far insert widens a rewritten file's
    // span across carried files), and release-by-hit-range would drop
    // a DV key hiding in a carried file that merely falls inside an
    // overlapping hit file's range — silently resurrecting the deleted
    // row. Membership is checked against the keys actually present in
    // the hit files: changed-files-sized I/O (the same files the
    // rewrite just read), key column only. Staged under the commit-id
    // namespace (vacuum-safe, [[vacuum]]'s c* rule) and renamed to
    // deletes/v<target> at commit.
    val stagedDv = deletionVector(spark, table, fromVersion).map { d =>
      val k = d.columns.head
      val hitKeys =
        if (hit.isEmpty) d.limit(0)
        else readConformed(spark, table, fromVersion, hit.toIndexedSeq)
          .select(col(keyCol).as(k))
      val dvOut = s"$table/data/c$commitId-dv"
      d.join(hitKeys, Seq(k), "left_anti")
        .join(changes.select(col(keyCol).as(k)).distinct(), Seq(k), "left_anti")
        .write.mode("overwrite").parquet(dvOut)
      dvOut
    }
    PreparedMerge(fromVersion, basePaths, hit, rewritten,
      changes.select(col(keyCol).as("ck")).distinct(), stagedDv,
      schemaOf(spark, table, fromVersion).toDDL, commitId)
  }

  /** A JVM-local CONDITIONAL-PUT claim store — the semantic stand-in
    * for the coordination service a plain-S3 deployment needs (S3
    * `PutObject If-None-Match: *`, or Delta's S3DynamoDBLogStore):
    * claiming is a compare-and-set on an external table, not a
    * filesystem create. `putIfAbsent` on a concurrent map IS the
    * conditional put's contract — exactly one of any number of
    * concurrent claimants observes "absent" — so the same 8-writer
    * contention stress that certifies [[AtomicCreateLogStore]] runs
    * unchanged through this impl (LedgerSpec), proving the TRAIT
    * carries the serializability guarantee, not one storage's create
    * semantics. JVM-scoped by construction: a real deployment swaps in
    * the service-backed equivalent; `reset()` clears claims for tests
    * that rebuild a table root within one JVM. */
  object CasLogStore extends LogStore {
    private val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def tryClaim(spark: SparkSession, table: String, version: Int): Boolean =
      claims.add(s"$table#v$version")
    def reset(): Unit = claims.clear()
  }

  /** The PROCESS-GRADE twin of [[CasLogStore]]: the same conditional-
    * put contract (claim = compare-and-set on one EXTERNAL coordination
    * table, not a per-version filesystem create), backed by a single
    * shared file under an exclusive cross-process `FileLock` — read the
    * claim set, append iff absent, force, release. One claimant of any
    * number of concurrent processes observes "absent", which is exactly
    * the `If-None-Match`/DynamoDB conditional-put guarantee the in-JVM
    * [[CasLogStore]] stands in for. This is the stress-harness
    * emulation, not a production store — a plain-S3 deployment still
    * swaps in the service-backed conditional put; what LedgerProcessSpec
    * certifies with it is that the commit protocol ABOVE the trait
    * (claim → sidecars → manifest → validate/rebase) is serializable
    * across real JVMs for the conditional-put claim style too, not only
    * for create-exclusive (the same spec's other case). In-JVM
    * contenders hold their lock through the JVM-wide lock table
    * (`OverlappingFileLockException` → brief spin), so the same store
    * also serves the threaded stress. */
  final class FileCasLogStore(storePath: String) extends LogStore {
    def tryClaim(spark: SparkSession, table: String, version: Int): Boolean = {
      val f = new java.io.File(storePath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val raf = new java.io.RandomAccessFile(f, "rw")
      try {
        var lock: java.nio.channels.FileLock = null
        while (lock == null) {
          try lock = raf.getChannel.lock()
          catch { // another THREAD of this JVM holds it: spin briefly
            case _: java.nio.channels.OverlappingFileLockException =>
              Thread.sleep(2)
          }
        }
        try {
          val key = s"$table#v$version"
          val bytes = new Array[Byte](raf.length().toInt)
          raf.readFully(bytes)
          if (new String(bytes, "UTF-8").linesIterator.contains(key)) false
          else {
            raf.seek(raf.length())
            raf.write((key + "\n").getBytes("UTF-8"))
            raf.getChannel.force(true)
            true
          }
        } finally lock.release()
      } finally raf.close()
    }
  }

  // ---- per-writer transaction markers (streaming idempotency) ----

  private def txnPath(table: String, version: Int) = s"$table/_txns/v$version"

  /** The highest batch id writer `appId` has COMMITTED to `table` —
    * Delta's SetTransaction/txnVersion, the idempotency token that
    * lets a streaming sink replay safely even when OTHER writers have
    * advanced the version in between (version == batchId + 1 stops
    * holding the moment a second writer exists). Scan is newest-first
    * with early exit: the last commit by a live stream is normally
    * within the last few versions. Like Delta, the marker couples to
    * snapshot retention — [[vacuum]] drops expired versions' txn
    * sidecars, so a writer idle past the retention window loses its
    * replay token (and must restart from a fresh checkpoint). */
  def lastTxn(spark: SparkSession, table: String, appId: String): Option[Long] = {
    val f = fs(spark, table)
    var v = latestVersion(spark, table)
    while (v >= 0) {
      val p = new Path(txnPath(table, v))
      if (f.exists(p)) {
        val parts = readSmallFile(f, p).split("\t", 2)
        if (parts.length == 2 && parts(0) == appId) return Some(parts(1).toLong)
      }
      v -= 1
    }
    None
  }

  /** Block until version N's manifest commit point lands. The timeout
    * names the one unrecoverable residue in the protocol: a claimant
    * that died BETWEEN winning the claim and landing the manifest
    * leaves a claim file no later writer can distinguish from a slow
    * in-flight commit (auto-takeover would double-commit against a
    * paused-but-alive claimant — the classic lease problem; Delta on
    * HDFS has the same operator-resolved window). Recovery is
    * operator-explicit: confirm the claimant is dead, delete the claim
    * file, and writers proceed; an idempotent stream then replays its
    * batch through the normal txn-marker path. */
  private def waitForCommitted(spark: SparkSession, table: String,
      version: Int, waitMs: Long): Unit = {
    val f = fs(spark, table)
    val marker = new Path(manifestPath(table, version) + "/_SUCCESS")
    val deadline = System.currentTimeMillis() + waitMs
    while (!f.exists(marker)) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(
          s"version $version of $table was claimed but never committed after " +
          s"${waitMs} ms — a committer likely died between claim and manifest. " +
          s"If no writer is alive, delete ${claimPath(table, version)} to " +
          "release the version; idempotent writers then replay safely.")
      Thread.sleep(50)
    }
  }

  /** Phase 2: claim a version for the prepared merge and publish its
    * manifest — Delta-style OPTIMISTIC concurrency with write
    * serializability:
    *
    *  1. CLAIM version base+1 through the [[LogStore]] trait — the
    *     storage-portability boundary. The shipped
    *     [[AtomicCreateLogStore]] uses atomic create-exclusive (the
    *     FileSystem contract on HDFS/local/ABFS); a plain-S3
    *     deployment swaps in a conditional-put/DynamoDB impl
    *     ([[CasLogStore]] is the in-JVM semantic twin), the commit
    *     protocol unchanged.
    *  2. Claim won → the staged deletion vector is renamed into
    *     place and the version lands ([[writeVersion]]). The
    *     interleaving window is conflict-free because the claimed
    *     version's base IS the prepare-time base.
    *  3. Claim lost → wait for the winner's manifest `_SUCCESS`, then
    *     VALIDATE the winner against this merge ([[requireDisjoint]]:
    *     any conflict ABORTS with ConcurrentModificationException) and
    *     REBASE: carry the new base's files (minus the hit set) and
    *     retry one version up — the rewrite is NOT recomputed, rebase
    *     is metadata-only.
    *
    * `txn = Some((appId, batchId))` makes the commit IDEMPOTENT per
    * writer: the pair is recorded in a per-version sidecar at the
    * commit point, and a caller whose (appId, batchId) is already
    * recorded at or above this batch returns -1 WITHOUT committing —
    * Delta's txnVersion dedup, which keeps a replayed streaming batch
    * a no-op even when other writers advanced the version in between.
    * The check runs before each claim attempt; Structured Streaming
    * runs one active instance per checkpoint, so replays are
    * sequential and the check-then-claim window is not raced.
    *
    * Returns the committed version (or -1 for a txn-deduped no-op).
    * The expensive work (phase 1) runs once; at 100 TB a retry costs
    * one manifest read, not a re-rewrite. */
  def commitPrepared(spark: SparkSession, table: String, p: PreparedMerge,
      maxAttempts: Int = 5, waitMs: Long = 30000,
      logStore: LogStore = AtomicCreateLogStore,
      txn: Option[(String, Long)] = None): Int = {
    val f = fs(spark, table)
    var base = p.baseVersion
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      txn.foreach { case (app, bid) =>
        if (lastTxn(spark, table, app).exists(_ >= bid)) return -1
      }
      val target = base + 1
      val committedMarker = new Path(manifestPath(table, target) + "/_SUCCESS")
      val claimed = logStore.tryClaim(spark, table, target)
      if (claimed && !f.exists(committedMarker)) {
        // clear any stale txn sidecar left by a committer that crashed
        // after writing it but before the manifest landed — it must not
        // masquerade as THIS version's transaction
        f.delete(new Path(txnPath(table, target)), false)
        txn.foreach { case (app, bid) =>
          writeSmallFile(f, new Path(txnPath(table, target)), s"$app\t$bid")
        }
        p.stagedDv.foreach { s =>
          val dst = new Path(deletePath(table, target))
          f.mkdirs(dst.getParent)
          f.rename(new Path(s), dst)
        }
        val carried = manifest(spark, table, base)
          .filter(!col("path").isInCollection(p.hitFiles.toSeq :+ ""))
        writeVersion(spark, table, target, carried.unionByName(p.rewrittenFiles),
          StructType.fromDDL(p.baseSchemaDdl))
        return target
      }
      // lost the race (or a non-claiming writer owns the version):
      // wait for the winner's commit point, then validate + rebase
      waitForCommitted(spark, table, target, waitMs)
      requireDisjoint(spark, table, p.baseVersion, p.baseSchemaDdl, p.basePaths,
        p.hitFiles, dvFrom = base, head = target, p.changeKeys,
        who = "concurrent commit", me = "this merge", myKeys = "this merge's change keys",
        conflict = why => throw new java.util.ConcurrentModificationException(
          s"commit ${p.commitId} vs interleaved v$target: $why"))
      base = target
    }
    throw new java.util.ConcurrentModificationException(
      s"commit ${p.commitId} gave up after $maxAttempts attempts")
  }

  /** The one disjointness check of an interleaved commit, shared by
    * [[commitPrepared]] (a merge that lost its claim, checked against
    * the winner) and [[rebaseBranch]] (a branch, checked against the
    * parent's commits since its base). The checked writer read version
    * `base` (manifest paths `basePaths`, schema `baseSchemaDdl`),
    * rewrote or removed `hitFiles` of it, and changed the keys
    * `changeKeys` (one column, `ck`); the interleaved writer `who`
    * committed `head`. Each rule below ends in `conflict`, in order:
    *
    *  - a hit file missing from `head`: `who` rewrote a file this
    *    writer read;
    *  - `head`'s schema differs from `baseSchemaDdl`;
    *  - `head`'s CHECK set differs from `base`'s: that metadata-only
    *    commit passes every other rule, but this writer's rows were
    *    checked against the old set;
    *  - deletion-vector rules over the step `dvFrom` → `head` (key-level
    *    state composes only when provably conflict-free):
    *    · `who` ADDED vector keys (an interleaved DELETE WHERE): this
    *      writer's vector predates them, and landing it would
    *      resurrect those deletes;
    *    · `who` RELEASED vector keys whose rows are LIVE in its added
    *      files (a re-upsert of a hidden key): this writer's vector
    *      would re-hide that update;
    *    · keys released only by PHYSICAL APPLICATION (rows dropped in
    *      a rewrite) are SAFE: this writer's vector may still name
    *      them, but their rows exist nowhere, so the entries are inert.
    *      Told apart by reading ONLY the added files (changed-files-
    *      sized I/O);
    *  - a file added since `base` whose key range intersects a changed
    *    key: overlapping writes.
    *
    * `me` and `myKeys` name the checked writer and its changed keys in
    * the messages. `changeKeys` is by-name: it is built only once every
    * earlier rule has passed. */
  private def requireDisjoint(spark: SparkSession, table: String, base: Int,
      baseSchemaDdl: String, basePaths: Set[String], hitFiles: Set[String],
      dvFrom: Int, head: Int, changeKeys: => DataFrame,
      who: String, me: String, myKeys: String, conflict: String => Nothing): Unit = {
    val mHead = manifest(spark, table, head)
    val headPaths = mHead.select(col("path")).collect().map(_.getString(0)).toSet
    val lostHit = hitFiles -- headPaths
    if (lostHit.nonEmpty)
      conflict(s"$who rewrote files $me read: ${lostHit.take(2).mkString(",")}")
    if (schemaOf(spark, table, head).toDDL != baseSchemaDdl)
      conflict(s"$who evolved the schema")
    if (constraintsOf(spark, table, head) != constraintsOf(spark, table, base))
      conflict(s"$who made a CHECK-constraint change; $me's rows were checked " +
        "against the old set")
    val added = (headPaths -- basePaths).toSeq
    (deletionVector(spark, table, dvFrom), deletionVector(spark, table, head)) match {
      case (None, Some(dh)) if dh.limit(1).count() > 0 =>
        conflict(s"$who added deletion-vector keys")
      case (Some(db), dhOpt) =>
        val k = db.columns.head
        val dh = dhOpt.getOrElse(db.limit(0))
        if (dh.join(db, Seq(k), "left_anti").limit(1).count() > 0)
          conflict(s"$who added deletion-vector keys")
        val released = db.join(dh, Seq(k), "left_anti")
        if (released.limit(1).count() > 0 && added.nonEmpty) {
          // the vector's single column is named after the table's key
          val keyAtHead = readConformed(spark, table, head, added.toIndexedSeq)
            .select(col(k))
          if (released.join(keyAtHead, Seq(k), "left_semi").limit(1).count() > 0)
            conflict(s"$who re-inserted a deletion-vector key $me's vector would re-hide")
        }
      case _ => ()
    }
    val touched = mHead.filter(col("path").isInCollection(added :+ ""))
      .join(changeKeys, col("ck") >= col("min_key") && col("ck") <= col("max_key"),
        "left_semi")
    if (touched.limit(1).count() > 0)
      conflict(s"$who added files overlapping $myKeys")
  }

  /** [[merge]] against the current latest version. */
  def mergeOcc(spark: SparkSession, table: String, changes: DataFrame,
      keyCol: String): Int =
    merge(spark, table, latestVersion(spark, table), changes, keyCol)

  /** The manifest diff both change feeds project. `pairs` is the
    * filtered before/after full-outer frame — before-image columns
    * `_kb`, `_b_<c>`; after-image `_ka`, `_a_<c>` for every `payload`
    * column `c` — holding one row per key that was inserted, deleted
    * or changed. `dvDeletes` holds the keys ADDED to the deletion
    * vector between the versions as (op = delete, key, pre-image
    * payload) rows, already in the feeds' output shape. */
  private final case class ManifestDiff(pairs: DataFrame, payload: Seq[String],
      dvDeletes: Option[DataFrame]) {
    def withDvDeletes(images: DataFrame): DataFrame =
      dvDeletes.fold(images)(images.unionByName(_))
  }

  /** The manifest diff of `vFrom` → `vTo` (see [[readChanges]] for the
    * contract and its cost shape). */
  private def manifestDiff(spark: SparkSession, table: String, vFrom: Int,
      vTo: Int, keyCol: String): ManifestDiff = {
    val pf = manifest(spark, table, vFrom)
      .select(col("path")).collect().map(_.getString(0)).toSet
    // vTo's manifest is needed TWICE (live path set + the dvDeletes
    // range prune below): one read+collect serves both (r13) — the
    // collected rows rebuild a local relation for the prune join
    // instead of re-reading the manifest parquet per pair.
    val mTo = manifest(spark, table, vTo)
    val mToRows = mTo.collect()
    val pathIdx = mTo.schema.fieldIndex("path")
    val pt = mToRows.map(_.getString(pathIdx)).toSet
    // a zero-row frame of vTo's recorded schema: the empty side of
    // the diff and the payload column list, with no Spark job
    val schemaSrc = emptyFrame(spark, schemaOf(spark, table, vTo))
    // both sides read conformed to vTo's logical schema: an ADD COLUMN
    // between vFrom and vTo backfills null on the before-image, so the
    // null-safe compare sees a change only where a value actually landed
    def rd(ps: Set[String]): DataFrame =
      if (ps.isEmpty) schemaSrc
      else readConformed(spark, table, vTo, ps.toIndexedSeq)
    val payload = schemaSrc.columns.filterNot(_ == keyCol).toSeq
    // each side reads through ITS version's deletion vector, so a
    // DV-hidden key re-upserted by the merge classifies as an insert
    // (absent before, present after), not an update
    val b = applyDv(spark, table, vFrom, rd(pf -- pt)).select(col(keyCol).as("_kb") +:
      payload.map(c => col(c).as(s"_b_$c")): _*)
    val a = applyDv(spark, table, vTo, rd(pt -- pf)).select(col(keyCol).as("_ka") +:
      payload.map(c => col(c).as(s"_a_$c")): _*)
    // keys ADDED to the deletion vector between the versions never move
    // a file, so the file diff cannot see them: emit them as deletes
    // with the pre-image read from the range-PRUNED shared files only
    // (changed-keys-sized I/O, never a table scan)
    val dvDeletes: Option[DataFrame] =
      deletionVector(spark, table, vTo).map { dt =>
        val added = deletionVector(spark, table, vFrom)
          .map(df0 => dt.join(df0, df0.columns.toSeq, "left_anti")).getOrElse(dt)
        val k = added.columns.head
        val addedKeys = added.select(col(k).as("_dk"))
        val shared = pf intersect pt
        // local relation, not parallelize: the shared-file prune is
        // manifest-sized metadata — folding it locally keeps the range
        // semi-join a broadcast over local rows with no parallelize job
        val sharedHit = spark.createDataFrame(
            java.util.Arrays.asList(
              mToRows.filter(r => shared(r.getString(pathIdx))): _*),
            mTo.schema)
          .join(addedKeys, col("_dk") >= col("min_key") && col("_dk") <= col("max_key"),
            "left_semi")
          .select(col("path")).collect().map(_.getString(0))
        val preImages =
          if (sharedHit.isEmpty) schemaSrc
          else readConformed(spark, table, vTo, sharedHit.toIndexedSeq)
            .join(addedKeys, col(keyCol) === col("_dk"), "left_semi")
        preImages.select((lit("delete").as("op") +: col(keyCol) +: payload.map(col)): _*)
      }
    // null-safe payload compare (IS DISTINCT FROM in the oracle): a
    // null-vs-value flip is a change, null-vs-null is not
    val changed = payload.map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
      .reduce(_ || _)
    ManifestDiff(
      b.join(a, col("_kb") === col("_ka"), "full_outer")
        .filter(col("_kb").isNull || col("_ka").isNull || changed),
      payload, dvDeletes)
  }

  /** CHANGE DATA FEED between two ledger versions, computed from the
    * MANIFESTS — never by replaying changesets: files referenced by both
    * manifests are byte-identical (immutable, carried by reference) and
    * contribute nothing, so only the file-set DIFFERENCE is read — the
    * before-image from files dropped by `vTo`, the after-image from
    * files added. A key-level full-outer join then classifies rows:
    * only-after → insert, only-before → delete, payload differs →
    * update (post-image); identical rows (unchanged neighbors inside a
    * copy-on-write rewrite) drop out. Emits the key, `op`, and the
    * post-image payload (pre-image for deletes).
    *
    * Scale shape: I/O and join volume are CHANGED-FILES-sized, not
    * table-sized — at 100 TB with file-granular copy-on-write, a 0.1 %
    * merge touches a handful of files and the CDF reads exactly those.
    * A compaction (pure layout rewrite) diffs to ZERO rows — spec- and
    * oracle-pinned — so downstream incremental consumers see layout
    * maintenance as a no-op, the Delta CDF contract. */
  def readChanges(spark: SparkSession, table: String, vFrom: Int, vTo: Int,
      keyCol: String): DataFrame = {
    val d = manifestDiff(spark, table, vFrom, vTo, keyCol)
    d.withDvDeletes(d.pairs.select((when(col("_kb").isNull, "insert")
      .when(col("_ka").isNull, "delete").otherwise("update").as("op") +:
      coalesce(col("_ka"), col("_kb")).as(keyCol) +:
      d.payload.map(c => coalesce(col(s"_a_$c"), col(s"_b_$c")).as(c))): _*))
  }

  /** CHANGE DATA FEED WITH PRE-IMAGES — Delta's four-op `_change_data`
    * shape: op ∈ {insert, delete, update_preimage, update_postimage},
    * one row per image. [[readChanges]] (the subscription/staging
    * feed) emits updates as single post-image rows, which is enough
    * for replication (a replica overwrites by key) but NOT for
    * incremental AGGREGATE maintenance: refreshing `SUM(f(x)) GROUP BY
    * g` from the feed needs to RETRACT the old contribution of an
    * updated row before adding the new one — the pre-image. Same
    * manifest diff as readChanges ([[manifestDiff]] — changed-files-
    * sized I/O; compaction pairs diff to zero rows); only the final
    * projection differs, and deletes added by a deletion vector are
    * the same rows in both feeds. */
  def readChangesFull(spark: SparkSession, table: String, vFrom: Int,
      vTo: Int, keyCol: String): DataFrame = {
    val d = manifestDiff(spark, table, vFrom, vTo, keyCol)
    // one struct per image a row contributes; updates carry BOTH
    val img = (side: String, op: String) => struct(
      (lit(op).as("op") +: d.payload.map(c => col(s"_${side}_$c").as(c))): _*)
    d.withDvDeletes(d.pairs
      .select(coalesce(col("_ka"), col("_kb")).as(keyCol),
        explode(when(col("_kb").isNull, array(img("a", "insert")))
          .when(col("_ka").isNull, array(img("b", "delete")))
          .otherwise(array(img("b", "update_preimage"),
            img("a", "update_postimage")))).as("_img"))
      .select((col("_img.op").as("op") +: col(keyCol) +:
        d.payload.map(c => col(s"_img.$c").as(c))): _*))
  }

  // ---- the change feed as a STRUCTURED STREAMING source ----

  private def cdfPath(table: String): String = s"$table/cdf"

  /** Materialize each committed version's change feed under
    * `cdf/commit_version=<N>/` — the durable CDF log a streaming
    * consumer subscribes to (Delta's `_change_data` shape, derived
    * post-hoc from the manifests instead of written by the committer,
    * so it needs no writer cooperation). Idempotent per version: the
    * staged dir's `_SUCCESS` marker is the publish point, mirroring
    * [[commitBatch]]'s manifest contract; the write lands in a hidden
    * `.stage` dir and RENAMES into place, so no reader — batch or
    * stream — can ever list a half-staged version. Per-version volume
    * is changed-files-sized ([[readChanges]]); a compaction version
    * stages ZERO rows, so layout maintenance stays invisible to
    * subscribers. Returns how many versions this call staged. */
  /** Versions examined by [[stageChanges]] loops since JVM start — a
    * test probe pinning the high-water-mark contract (a re-stage of an
    * already-current feed must examine ZERO versions, not O(all)). */
  private[graft] val stageScanProbes = new java.util.concurrent.atomic.AtomicLong

  private def cdfHwmPath(table: String) = s"${cdfPath(table)}/_hwm"
  private def cdfHwmMarker(table: String, v: Int) = s"${cdfPath(table)}/_hwm_v$v"
  private def gapMarkerPath(table: String, v: Int) = s"${cdfPath(table)}/_gap_v$v"

  /** The staged high-water mark: max over `_hwm_v<N>` marker files
    * (plus the legacy single `_hwm` file, read-only back-compat). The
    * mark is MONOTONE BY CONSTRUCTION under any stager interleave:
    * advancing CREATES a higher-numbered marker and only then GCs
    * lower ones, so the max over present markers never decreases — the
    * last-write-wins overwrite of a single file could regress the hint
    * when a stager that verified less wrote after one that verified
    * more (safe but O(re-probed versions) per tick thereafter). One
    * LIST per read instead of one GET; underscore-prefixed so parquet
    * readers of cdf/ never see any of it. */
  private[graft] def stagedHwm(spark: SparkSession, table: String): Int = {
    val f = fs(spark, table)
    val legacy =
      try {
        val p = new Path(cdfHwmPath(table))
        if (f.exists(p)) readSmallFile(f, p).trim.toInt else 0
      } catch { case _: Exception => 0 }
    val marked =
      try {
        val dir = new Path(cdfPath(table))
        if (!f.exists(dir)) 0
        // per-entry parse guard: ONE stray/partial `_hwm_v*`-named file
        // must not collapse the whole max to 0 (which silently reverts
        // every staging tick to the full O(versions) rescan until the
        // file is hand-removed) — skip unparsable names, keep the rest
        else f.listStatus(dir).iterator.map(_.getPath.getName)
          .filter(_.startsWith("_hwm_v"))
          .flatMap(n => n.stripPrefix("_hwm_v").toIntOption)
          .foldLeft(0)(math.max)
      } catch { case _: Exception => 0 }
    math.max(legacy, marked)
  }

  private def advanceHwm(spark: SparkSession, table: String, verified: Int): Unit = {
    val f = fs(spark, table)
    writeSmallFile(f, new Path(cdfHwmMarker(table, verified)), "")
    // GC superseded markers AFTER the higher one exists — a concurrent
    // reader's max never dips. The legacy `_hwm` file is left alone
    // (never written again; a possibly-higher LWW value must not be
    // deleted by a stager that verified less).
    try f.listStatus(new Path(cdfPath(table))).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_hwm_v") && n.stripPrefix("_hwm_v").toInt < verified)
        f.delete(st.getPath, false)
    } catch { case _: Exception => () }
  }

  def stageChanges(spark: SparkSession, table: String, keyCol: String,
      allowGaps: Boolean = false): Int = {
    val f = fs(spark, table)
    var staged = 0
    // staged HIGH-WATER MARK: every version ≤ hwm is already staged (or
    // durably gap-marked), so the scan starts there — O(new versions)
    // exists-probes per tick instead of O(all versions); at a 100k-
    // commit table that is the difference between 2 and 200k namenode
    // round-trips per staging tick. The mark is a monotone HINT with
    // the safe failure mode: absent/corrupt reads as 0 and the loop
    // falls back to the full idempotent scan; it is only ever advanced
    // over versions this call VERIFIED staged, and [[stagedHwm]]'s
    // marker-file max makes it monotone under RACING stagers too — a
    // stager that verified less can no longer regress the mark one
    // that verified more just wrote.
    val hwm = stagedHwm(spark, table)
    val latest = latestVersion(spark, table)
    ((hwm + 1) to latest).foreach { v =>
      stageScanProbes.incrementAndGet()
      val dst = new Path(s"${cdfPath(table)}/commit_version=$v")
      // a version pair straddling VACUUMed history is unstageable (the
      // dropped manifests are gone). Like Delta, the change feed
      // couples to snapshot retention, so consumers stage BEFORE
      // vacuuming (already-staged partitions survive vacuum untouched
      // — it never lists cdf/). Encountering an unstageable version
      // that was never staged FAILS by default — a silent skip would
      // hand every subscriber a permanent, undetectable hole in the
      // feed (a delete they never see); `allowGaps` opts into skipping
      // when the operator has decided the lost history is acceptable.
      // LedgerStreamSpec pins both behaviors.
      val alreadyStaged = f.exists(new Path(dst, "_SUCCESS"))
      // an accepted hole is recorded DURABLY (_gap_v<N>): later calls
      // without allowGaps don't re-throw for a hole the operator
      // already accepted, and subscribers can enumerate the markers to
      // know exactly which versions the feed is missing
      val gapAccepted = f.exists(new Path(gapMarkerPath(table, v)))
      val stageable = (v - 1 to v).forall(u =>
        f.exists(new Path(manifestPath(table, u) + "/_SUCCESS")))
      if (!stageable && !alreadyStaged && !gapAccepted && !allowGaps)
        throw new IllegalStateException(
          s"change feed for version $v of $table straddles vacuumed history " +
          "and was never staged — subscribers would silently lose these " +
          "changes. Stage before vacuuming, or pass allowGaps=true to accept " +
          "the hole.")
      if (!stageable && !alreadyStaged && !gapAccepted)
        writeSmallFile(f, new Path(gapMarkerPath(table, v)), "")
      if (stageable && !alreadyStaged) {
        // publish is RENAME-ONLY: dst is only ever created by an atomic
        // rename, so it can never exist half-written, and there is
        // nothing to pre-delete — a pre-delete would race a concurrent
        // stager (check-delete-rename could remove a version the other
        // process just published while consumers hold its file paths in
        // checkpoints). The tmp dir is attempt-unique, so concurrent
        // stagers never collide; the rename LOSER sees dst already
        // present, verifies the winner's _SUCCESS, and discards its tmp.
        val tmp = new Path(
          s"${cdfPath(table)}/.stage_v${v}_${java.util.UUID.randomUUID().toString.take(8)}")
        readChanges(spark, table, v - 1, v, keyCol)
          .write.mode("overwrite").parquet(tmp.toString)
        f.mkdirs(dst.getParent)
        if (f.rename(tmp, dst)) staged += 1
        else {
          f.delete(tmp, true)
          require(f.exists(new Path(dst, "_SUCCESS")),
            s"CDF stage rename failed for version $v and no committed " +
            "version is present")
        }
      }
    }
    // every version ≤ latest is now verified staged or durably
    // gap-marked (the loop threw otherwise): advance the mark
    if (latest > hwm) advanceHwm(spark, table, latest)
    staged
  }

  /** SUBSCRIBE to the change feed: the staged CDF as a Structured
    * Streaming source — the missing half of the incremental story (the
    * exactly-once SINK writes batches INTO the ledger; this reads
    * committed changes OUT, continuously). Columns: the key, `op`
    * (insert/update/delete), the payload (post-image; pre-image for
    * deletes), and `commit_version` (the partition column of the CDF
    * log). Micro-batches are file-source increments: Spark's
    * checkpoint records consumed files, so a crashed consumer resumes
    * exactly after the last committed batch — end-to-end exactly-once
    * with any idempotent sink (e.g. `foreachBatch` + [[commitBatch]]
    * into a downstream ledger). New versions become visible the moment
    * [[stageChanges]] renames them in; `fromVersion` starts the
    * subscription later in history (partition-pruned — old version
    * dirs are listed, never read). */
  def readChangesStream(spark: SparkSession, table: String,
      fromVersion: Int = 1): DataFrame = {
    // the subscription reads the staged CDF log, whose parquet footer
    // fixes the source schema — subscribing before anything is staged
    // has no schema to freeze, so fail with the action, not with the
    // file source's PATH_NOT_FOUND
    require(fs(spark, table).exists(new Path(cdfPath(table))),
      s"no change feed staged for $table yet — run stageChanges(...) " +
      "once before subscribing (it is idempotent; new versions staged " +
      "later become visible to a running stream)")
    // the subscription's schema is derived from the TABLE's current
    // logical schema (op + payload + the commit_version partition
    // column), never from a sampled parquet footer: after a schema
    // evolution the cdf dir holds MIXED physical schemas, and a footer
    // sampled from a pre-evolution partition would silently project
    // the new columns away. The explicit schema makes the unified read
    // null-fill pre-evolution partitions instead — so a subscription
    // RESTARTED after an upstream evolve picks up the widened schema
    // across old and new partitions alike (the Delta CDF
    // restart-on-schema-change contract, proven in LedgerStreamSpec).
    val payload = schemaOf(spark, table, latestVersion(spark, table)).fields
    val schema = StructType(
      StructField("op", org.apache.spark.sql.types.StringType) +: payload :+
        StructField("commit_version", org.apache.spark.sql.types.IntegerType))
    val s = spark.readStream.schema(schema).parquet(cdfPath(table))
    if (fromVersion > 1) s.filter(col("commit_version") >= fromVersion) else s
  }

  /** Net per-key effect of a multi-version CDF slice. One micro-batch
    * (or one catch-up read) can span several upstream versions, so the
    * same key may appear more than once — upserted in v1, deleted in
    * v2 — while [[merge]] requires unique keys. A replica must apply
    * the LATEST version's op per key; everything earlier is history it
    * can skip (the post-images compose, they don't accumulate). Cost
    * is one shuffle over changed keys only, never table-sized. */
  def netChanges(changes: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("commit_version").desc)
    val payload = changes.columns
      .filterNot(Set(keyCol, "op", "commit_version")).toSeq
    changes.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col(keyCol) +:
        when(col("op") === "delete", "delete").otherwise("upsert").as("op") +:
        payload.map(col): _*)
  }

  /** REPLICATE: subscribe to `from`'s staged change feed and apply it
    * to the `to` ledger continuously — CDC fan-out as one declaration.
    * Bootstrap the replica first (`create` from a [[readVersion]]
    * snapshot), then this stream keeps it converged to the upstream
    * head: each micro-batch is net-reduced ([[netChanges]]) and merged
    * via [[commitBatch]], whose batch-id manifest commit point plus the
    * file-source's checkpointed offsets make the pipeline end-to-end
    * exactly-once across consumer crashes (a replayed batch is a
    * manifest-level no-op). Returns the running query; the caller owns
    * its lifecycle. LedgerStreamSpec proves replica ≡ upstream head
    * across multiple commits and a mid-stream topology of new merges. */
  def replicate(spark: SparkSession, from: String, to: String,
      keyCol: String, checkpoint: String, fromVersion: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // one stable writer identity per SUBSCRIPTION (checkpoint): the
    // txn-marker appId that makes replayed batches no-op across
    // restarts, and the namespace of the replica's version high-water
    // mark below
    val app = "repl_" + java.util.UUID.nameUUIDFromBytes(
      new Path(checkpoint).toString.getBytes(UTF_8)).toString.take(12)
    val hwmFile = new Path(s"$to/_cdc_hwm/$app")
    readChangesStream(spark, from, fromVersion)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the file source froze its schema at subscription time; if the
        // upstream evolved a wider schema since, new columns would be
        // silently projected away and the replica would diverge without
        // error — fail loudly instead (Delta's CDF stream has the same
        // restart-on-schema-change contract; the RESTARTED subscription
        // reads the widened schema — readChangesStream derives it from
        // the upstream table, not a sampled footer — and commitBatch
        // auto-widens the replica). Cost: one sidecar read per batch.
        val missing = schemaOf(spark, from, latestVersion(spark, from)).fieldNames.toSet --
          (b.columns.toSet - "op" - "commit_version")
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"upstream $from evolved columns ${missing.mkString(",")} after " +
            "this subscription started — restart replicate() so the stream " +
            "picks up the widened CDF schema")
        val span = b.agg(min(col("commit_version")), max(col("commit_version"))).head()
        if (!span.isNullAt(0)) {
          val (mn, mx) = (span.getInt(0), span.getInt(1))
          val f = fs(spark, to)
          val hwm = if (f.exists(hwmFile)) readSmallFile(f, hwmFile).trim.toInt else 0
          if (!lastTxn(spark, to, app).exists(_ >= id)) {
            // VERSION ORDER is an explicit invariant, not an mtime
            // artifact: netChanges orders WITHIN a batch, so cross-batch
            // order rests on the file source delivering staged versions
            // monotonically. If a listing tie ever hands a batch an
            // upstream version OLDER than one already applied (mn < the
            // replica's high-water mark), applying it would silently
            // regress keys — fail loudly instead. Equal is legal: one
            // version's files may split across adjacent micro-batches
            // (each key's row lives in exactly one file, so per-key
            // order still holds).
            require(mn >= hwm,
              s"out-of-order CDF delivery to $to: micro-batch $id spans " +
              s"commit_versions [$mn,$mx] but version $hwm was already " +
              "applied — the source's file order broke the version " +
              "invariant; rebuild the replica from a fresh checkpoint")
            commitBatch(spark, to, id, netChanges(b, keyCol), keyCol, app)
          }
          writeSmallFile(f, hwmFile, math.max(hwm, mx).toString)
        }
        ()
      }.start()
  }

  // ---- the declared queries ----

  /** Build the deterministic v0→v3 lineage ONCE per (session, corpus)
    * — the standing-table discipline: at 100 TB the ledger table
    * already exists and queries ADDRESS versions, they don't re-create
    * history per query. Both declared queries read this one table;
    * `StandingState.release()` clears it and the next query
    * rebuilds from source (same contract as the kNN/BM25 indexes). */
  private def builtLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-lineage", dir) {
      val table = tableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      merge(spark, table, 0, changeset1(docs), "doc_id")
      merge(spark, table, 1, changeset2(docs), "doc_id")
      compact(spark, table, 2, "doc_id")
      table
    }

  /** Deterministic changeset 1 (Snapshot.v2's rules recast as MERGE
    * ops): delete doc_id%17==3, upsert %13==1 with a " [rev2]" suffix,
    * insert %29==0 clones at +1e9. */
  private def changeset1(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 17 === 3)
      .select(col("doc_id"), lit("delete").as("op"), col("source"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          concat(col("text"), lit(" [rev2]")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + Snapshot.addedIdOffset).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("new "), col("text")).as("text")))

  /** Deterministic changeset 2 (applies on top of v1): delete
    * %19==2, upsert %11==5 with " [rev3]", insert %31==0 at +2e9. */
  private def changeset2(docs: DataFrame): DataFrame = {
    val v1 = Snapshot.v2of(docs) // the logical content of ledger v1
    v1.filter(col("doc_id") % 19 === 2)
      .select(col("doc_id"), lit("delete").as("op"), col("source"), col("text"))
      .unionByName(v1.filter(col("doc_id") % 11 === 5 && col("doc_id") % 19 =!= 2)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          concat(col("text"), lit(" [rev3]")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 2 * Snapshot.addedIdOffset).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("new2 "), col("text")).as("text")))
  }

  /** 15-hex md5 prefix of the text as a BIGINT — the cross-engine
    * content fingerprint (Spark conv ↔ DuckDB CAST('0x'||…)). */
  private def textFp(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Q-time-travel: build the ledger table end to end — v0 = the
    * corpus, v1 = MERGE changeset 1, v2 = MERGE changeset 2, v3 =
    * COMPACT(v2) — then read EVERY version back snapshot-addressed and
    * emit one audit row per version (row count, decimal-exact key sum,
    * content-fingerprint sum). The DuckDB oracle recomputes v0/v1/v2
    * from the raw corpus + the same deterministic changesets, and v3
    * must equal v2 exactly — compaction preserving logical version
    * identity is part of the checked contract, as is the whole
    * manifest/time-travel read path (a wrong carried-over file, a
    * duplicated rewrite, or a leaked deleted row breaks the hash). */
  /** Q-ledger-changes: build the same ledger lineage (v0 corpus → v1
    * merge → v2 merge → v3 compact) under its own root, then read the
    * CHANGE FEED of every adjacent version pair from the manifests.
    * One row per changed key: (from_v, to_v, op, doc_id, text_fp) with
    * the post-image fingerprint (pre-image for deletes). The DuckDB
    * oracle recomputes v0/v1/v2 logically and full-outer diffs them —
    * and emits NOTHING for the 2→3 pair, so any row the compaction
    * diff produced would break the compare: layout maintenance must be
    * invisible to incremental consumers. */
  def qLedgerChanges(spark: SparkSession, dir: String): DataFrame = {
    val table = builtLineage(spark, dir)
    Seq(0 -> 1, 1 -> 2, 2 -> 3).map { case (f, t) =>
      readChanges(spark, table, f, t, "doc_id")
        .select(lit(f).as("from_v"), lit(t).as("to_v"), col("op"),
          col("doc_id"), textFp(col("text")).as("text_fp"))
    }.reduce(_.unionByName(_))
  }

  /** Q-ledger-stream: the streaming CDF consumer, run for real — stage
    * the shared lineage's change feed, SUBSCRIBE with
    * [[readChangesStream]] under `Trigger.AvailableNow` (the bounded
    * run of the same continuous query), and return exactly what the
    * stream delivered: one row per changed key per committed version,
    * (commit_version, op, doc_id, text_fp). The DuckDB oracle
    * recomputes versions 0/1/2 logically and full-outer diffs the
    * adjacent pairs — stream ≡ batch CDF is the checked contract, and
    * the compaction version (v3) stages zero rows, so any row the
    * stream delivered for it breaks the hash. */
  def qLedgerStream(spark: SparkSession, dir: String): DataFrame = {
    val table = builtLineage(spark, dir)
    stageChanges(spark, table, "doc_id")
    // deliver to PARQUET, not a memory sink: a memory sink pins every
    // delivered row on the driver for the session lifetime (and
    // StandingState.release cannot free an anonymous per-run table) —
    // at sf100 that is a full CDF copy per bench pass, the exact
    // pass-accumulated driver footprint the 64 GB release() work
    // removed. The file delivery also mirrors the production shape:
    // stream out of one table, land in storage. The delivery path is
    // FIXED per corpus and cleared at query start (overwrite
    // semantics), so repeated invocations hold at most ONE full CDF
    // copy on disk instead of accumulating a UUID-suffixed dir per
    // run; the pre-delete also clears the file sink's _spark_metadata
    // log, so the fresh checkpoint's batch 0 is never mistaken for an
    // already-committed batch of a previous delivery.
    val out = graft.GraftPaths.sink("graft_ledger_stream", dir.replaceAll(".*/", ""))
    fs(spark, out).delete(new Path(out), true)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdf_ckpt")
    val q = readChangesStream(spark, table)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the one-shot delivery is complete: the checkpoint has no replay
    // value and would otherwise accumulate one dir per invocation —
    // deleted through the CHECKPOINT path's own filesystem (the sink
    // path may live on a different FS than the local temp dir)
    fs(spark, ckpt.toString).delete(new Path(ckpt.toString), true)
    spark.read.parquet(out)
      .select(col("commit_version"), col("op"), col("doc_id"),
        textFp(col("text")).as("text_fp"))
      .orderBy(col("commit_version"), col("doc_id"), col("op"))
  }

  // checksums accumulate in decimal(38,0) and reduce mod 1e18 before
  // the BIGINT cast (the fp sum is ~6e17 per row — a raw long sum
  // wraps at any non-toy row count; DuckDB mirrors with HUGEINT % )
  private val modulus = lit(1000000000000000000L)
  private def checksum(c: Column): Column =
    (sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 0))) % modulus)
      .cast("long")

  def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = builtLineage(spark, dir)
    (0 to 3).map { v =>
      readVersion(spark, table, v)
        .agg(count(lit(1)).as("n_rows"),
          checksum(col("doc_id")).as("key_sum"),
          checksum(textFp(col("text"))).as("text_fp_sum"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("key_sum"),
          col("text_fp_sum"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** Build the replica ONCE per (session, corpus) — like every other
    * standing artifact: at 100 TB the replica is a long-lived table a
    * continuously-running [[replicate]] keeps converged; the query's
    * steady cost is auditing its head, not re-bootstrapping CDC. The
    * memoized build = bootstrap from v0 + one full stream drain; a
    * release() rebuilds from scratch (fresh replica root + checkpoint). */
  private[graft] def builtReplica(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-replica", dir) {
      val up = builtLineage(spark, dir)
      stageChanges(spark, up, "doc_id")
      val down = graft.GraftPaths.sink("graft_ledger_repl", dir.replaceAll(".*/", ""))
      create(spark, down, readVersion(spark, up, 0), "doc_id") // create() clears the root

      val q = replicate(spark, up, down, "doc_id",
        java.nio.file.Files.createTempDirectory("graft_repl_ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      down
    }

  /** Q-ledger-replicate: CDC fan-out end to end. Bootstrap a fresh
    * replica ledger from the shared lineage's v0 snapshot, then drive
    * [[replicate]] — CDF stream → net per-key reduction → exactly-once
    * merge — until the feed drains, and audit the replica HEAD. The
    * oracle recomputes the upstream logical head (v2, which v3's
    * compaction must preserve) straight from the corpus + changesets;
    * a wrong net-reduction (a stale op winning inside a multi-version
    * micro-batch), a skipped version, or a double-applied batch all
    * break the audit. The replica is rebuilt per run so the query is
    * self-contained and deterministic; its cost is v0-sized, and the
    * stream consumes the SAME staged CDF q_ledger_stream reads. */
  def qLedgerReplicate(spark: SparkSession, dir: String): DataFrame = {
    val down = builtReplica(spark, dir)
    readVersion(spark, down, latestVersion(spark, down))
      .agg(count(lit(1)).as("n_rows"),
        checksum(col("doc_id")).as("key_sum"),
        checksum(textFp(col("text"))).as("text_fp_sum"))
  }

  // ---- optimistic-concurrency lineage (its own root): two writers
  // prepared against one base UNDER A PENDING DELETION VECTOR, the
  // loser rebasing — the multi-writer commit path as an oracle query ----

  private def occTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_occ", dir.replaceAll(".*/", ""))

  /** v0 = the corpus; v1 = MERGE-ON-READ DELETE WHERE doc_id%7==3 (a
    * pending deletion vector, zero files moved); then TWO merges are
    * PREPARED concurrently against v1 — both copy-on-write rewrites
    * computed before either claims a version — touching the extreme
    * range files (writer A upserts the smallest surviving key, writer
    * B the largest). B claims v2; A's claim of v2 fails, so A
    * validates against B's commit — including the deletion-vector
    * rebase rules (B's vector releases are physical-only, so A's
    * staged vector stays sound) — and rebases to v3 without
    * recomputing its rewrite. Standing table, one build per
    * (session, corpus). */
  private[graft] def builtOccLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-occ-lineage", dir) {
      val table = occTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      deleteWhere(spark, table, 0, "doc_id", col("doc_id") % 7 === 3)
      // change keys chosen OUTSIDE the vector: upserting a DV-hidden
      // key releases it by changeset, which the loser's rebase rightly
      // rejects (it would re-hide the winner's re-insert) — that abort
      // path is spec-pinned in LedgerSpec; the query pins the commit path
      val surviving = docs.filter(col("doc_id") % 7 =!= 3)
      val ends = surviving.agg(min(col("doc_id")), max(col("doc_id"))).head()
      def changeFor(key: Long, tag: String): DataFrame =
        docs.filter(col("doc_id") === key)
          .select(col("doc_id"), lit("upsert").as("op"), col("source"),
            concat(lit(tag), col("text")).as("text"))
      val a = prepareMerge(spark, table, 1, changeFor(ends.getLong(0), "occA "), "doc_id")
      val b = prepareMerge(spark, table, 1, changeFor(ends.getLong(1), "occB "), "doc_id")
      require(commitPrepared(spark, table, b) == 2, "writer B claims v2")
      require(commitPrepared(spark, table, a) == 3, "writer A rebases to v3")
      table
    }

  /** Q-ledger-occ: audit the head (v3) of the OCC lineage — count,
    * key checksum, text-fingerprint checksum, plus the version number
    * itself (3 pins that the loser REBASED one version up rather than
    * overwriting the winner). The DuckDB oracle recomputes the head
    * logically: the corpus minus the %7==3 deletes, with the smallest
    * and largest surviving keys' texts prefixed by their writer tags.
    * A lost update (either writer's edit missing), a resurrected
    * deleted row (the vector mishandled across the rebase), or a
    * double-applied rewrite all break the hash. */
  def qLedgerOcc(spark: SparkSession, dir: String): DataFrame = {
    val table = builtOccLineage(spark, dir)
    val head = latestVersion(spark, table)
    readVersion(spark, table, head)
      .agg(count(lit(1)).as("n_rows"),
        checksum(col("doc_id")).as("key_sum"),
        checksum(textFp(col("text"))).as("text_fp_sum"))
      .select(lit(head.toLong).as("n_versions"), col("n_rows"),
        col("key_sum"), col("text_fp_sum"))
  }

  /** Q-ledger-incr-agg: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE over
    * the change feed — the standing-aggregate pattern a 100 TB corpus
    * lives by (per-source doc counts and content checksums refreshed
    * from the feed, never by rescanning the table). The view is
    * bootstrapped from v0, then each version's FULL change feed
    * ([[readChangesFull]] — pre-images retract, post-images add)
    * applies as signed deltas: insert/update_postimage +1·fp,
    * delete/update_preimage −1·fp. The maintained result must equal a
    * from-scratch recomputation of the HEAD's per-source stats — the
    * DuckDB oracle recomputes exactly that, so a missing pre-image (an
    * update double-counted), a sign error, or a compaction version
    * leaking rows into the feed all break the hash. Incremental cost
    * is feed-sized (changed files only), bootstrap is v0-sized — the
    * point of the pattern. */

  /** The shared lineage's FULL feed (4-image), v1..v3, STAGED once per
    * (session, corpus) — the batch twin of what [[stageChanges]] does
    * for the streaming consumer: in production the writer stages each
    * commit's change files once and every downstream view refresh READS
    * them; recomputing the manifest-diff per consumer per tick would
    * multiply the diff cost by the subscriber count. Columns: op,
    * commit_version, key, payload. Feed-sized (changed keys only). */
  private def stagedFullFeed(spark: SparkSession, table: String,
      dir: String, keyCol: String, upTo: Int): DataFrame =
    // keyCol and upTo belong in the key: a caller asking for a
    // different version range or key on the same table must not be
    // handed the first-staged feed
    graft.StandingState.standing(spark, "ledger-full-feed", (table, dir, keyCol, upTo)) {
      import graft.StandingState.CkptOps
      (1 to upTo).map { v =>
        readChangesFull(spark, table, v - 1, v, keyCol)
          .withColumn("commit_version", lit(v))
      }.reduce(_.unionByName(_)).localCheckpointTracked()
    }

  // ---- INCREMENTAL VIEW MAINTENANCE as a one-call API ----

  /** Spec of a maintained GROUPED-AGGREGATE view over one ledger
    * table: `groups` name the view's key expressions (over the
    * table's row schema — computed keys like `doc_id % 5` are fine),
    * `countAs` names the maintained COUNT(*), `sums` the maintained
    * SUM(expr) columns. COUNT and SUM are the self-maintainable
    * aggregates (a retraction is a signed row — no rescan); MIN/MAX
    * are deliberately absent: a retracted extremum needs a rescan of
    * its group, a different (and table-scan-shaped) maintenance
    * contract. */
  final case class ViewSpec(table: String, dir: String, keyCol: String,
      groups: Seq[(String, Column)], countAs: String,
      sums: Seq[(String, Column)])

  /** Two-tier (factorized) JOIN view: `fact` partials keyed by the
    * join column + the view's group keys, `dim` keyed by the join
    * column, combined per refresh as `pairs` (sums over products of
    * maintained columns). Each tier refreshes from ITS table's feed —
    * fact-feed-sized work per fact commit, dim-cardinality work per
    * dim commit, never a rescan of fact data (the only join-view
    * shape that survives 100 TB). */
  final case class JoinViewSpec(fact: ViewSpec, dim: ViewSpec,
      joinCol: String, groupCols: Seq[String], pairs: Seq[(String, Column)])

  private val viewRegistry =
    new scala.collection.concurrent.TrieMap[String, ViewSpec]
  private val joinViewRegistry =
    new scala.collection.concurrent.TrieMap[String, JoinViewSpec]

  /** Register view `name` and build its BOOTSTRAP (the v0 aggregate)
    * as a standing artifact — once per (session, name); at 100 TB the
    * bootstrap is the one table-scan the view ever costs, every
    * [[refreshView]] after it reads feed-sized deltas. Idempotent: a
    * name binds its first spec for the session (put-if-absent), the
    * standing-artifact discipline every memoized index here follows. */
  def defineView(spark: SparkSession, name: String, spec: ViewSpec): Unit = {
    // Re-defining an existing name must be loud: silently serving the
    // FIRST-bound spec to a caller who registered a different one is a
    // wrong-results bug (their refreshes would group/aggregate by the
    // old definition with no error). Same-spec re-definition stays the
    // idempotent no-op the standing-artifact discipline wants. Column
    // lacks structural equality, so specs compare by their rendered
    // expression text (deterministic for a fixed definition).
    viewRegistry.putIfAbsent(name, spec).foreach { bound =>
      require(bound.toString == spec.toString,
        s"view '$name' is already defined with a different spec; " +
          s"drop/rename it instead of silently rebinding")
    }
    viewBootstrap(spark, name, viewRegistry(name))
    ()
  }

  def defineJoinView(spark: SparkSession, name: String,
      spec: JoinViewSpec): Unit = {
    joinViewRegistry.putIfAbsent(name, spec).foreach { bound =>
      require(bound.toString == spec.toString,
        s"join view '$name' is already defined with a different spec; " +
          s"drop/rename it instead of silently rebinding")
    }
    val s = joinViewRegistry(name)
    defineView(spark, s"$name#fact", s.fact)
    defineView(spark, s"$name#dim", s.dim)
  }

  private def viewBootstrap(spark: SparkSession, name: String,
      spec: ViewSpec): DataFrame =
    graft.StandingState.standing(spark, "ledger-view-bootstrap", name) {
      import graft.StandingState.CkptOps
      readVersion(spark, spec.table, 0)
        .groupBy(spec.groups.map { case (n, e) => e.as(n) }: _*)
        .agg(count(lit(1)).as(spec.countAs),
          spec.sums.map { case (n, e) => sum(e).as(n) }: _*)
        .localCheckpointTracked()
    }

  /** REFRESH view `name`: bootstrap ∪ the staged full feed's signed
    * deltas (pre-images retract, post-images add), re-aggregated.
    * `upTo` pins the feed horizon (-1 = the table's current head).
    * Groups whose maintained count nets ZERO drop out — a from-scratch
    * GROUP BY has no row for a group whose members were all retracted,
    * and the maintained view must agree with it. Cost: feed-sized
    * deltas + view-cardinality combine; never a table rescan. */
  def refreshView(spark: SparkSession, name: String, upTo: Int = -1): DataFrame = {
    val spec = viewRegistry.getOrElse(name,
      throw new NoSuchElementException(s"no view '$name' — defineView first"))
    val to = if (upTo >= 0) upTo else latestVersion(spark, spec.table)
    val base = viewBootstrap(spark, name, spec)
    val gcols = spec.groups.map(g => col(g._1))
    val state =
      if (to <= 0) base
      else {
        val sgn = when(col("op").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L)
        val deltas = stagedFullFeed(spark, spec.table, spec.dir, spec.keyCol, to)
          .select(spec.groups.map { case (n, e) => e.as(n) } ++
            Seq(sgn.as("_sgn")) ++
            spec.sums.map { case (n, e) => e.as(n) }: _*)
          .groupBy(gcols: _*)
          .agg(sum(col("_sgn")).as(spec.countAs),
            spec.sums.map { case (n, _) =>
              sum(col(n) * col("_sgn")).as(n) }: _*)
        base.unionByName(deltas)
      }
    state.groupBy(gcols: _*)
      .agg(sum(col(spec.countAs)).as(spec.countAs),
        spec.sums.map { case (n, _) => sum(col(n)).as(n) }: _*)
      .filter(col(spec.countAs) =!= 0)
  }

  /** Refresh the two-tier join view: combine the fact partials with
    * the dim side (both maintained by [[refreshView]], both already
    * dropping fully-retracted groups) — dim side broadcast, pairs
    * summed per group key. `factUpTo`/`dimUpTo` pin each feed horizon
    * independently (the tables commit independently). */
  def refreshJoinView(spark: SparkSession, name: String,
      factUpTo: Int = -1, dimUpTo: Int = -1): DataFrame = {
    val spec = joinViewRegistry.getOrElse(name,
      throw new NoSuchElementException(s"no join view '$name' — defineJoinView first"))
    refreshView(spark, s"$name#fact", factUpTo)
      .join(broadcast(refreshView(spark, s"$name#dim", dimUpTo)),
        Seq(spec.joinCol))
      .groupBy(spec.groupCols.map(col): _*)
      .agg(spec.pairs.head._2.as(spec.pairs.head._1),
        spec.pairs.tail.map { case (n, e) => e.as(n) }: _*)
  }

  def qLedgerIncrAgg(spark: SparkSession, dir: String): DataFrame = {
    val table = builtLineage(spark, dir)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // the declared query is ONE defineView + ONE refreshView — the
    // bespoke retract/add plumbing this query used to carry is now the
    // [[refreshView]] contract (bootstrap = standing artifact, refresh
    // = feed-sized deltas); only the presentation finisher (modular
    // fingerprint fold + order) stays here
    defineView(spark, s"incr_agg@$dir", ViewSpec(table, dir, "doc_id",
      groups = Seq("source" -> col("source")), countAs = "n_docs",
      sums = Seq("dfp" -> textFp(col("text")).cast(dec38))))
    refreshView(spark, s"incr_agg@$dir", upTo = 3)
      .select(col("source"), col("n_docs"),
        pmod(col("dfp"), modulus).cast("long").as("text_fp_sum"))
      .orderBy(col("source"))
  }

  // ---- schema-evolution lineage (its own root — the shared lineage
  // above stays schema-stable for q_time_travel/q_ledger_changes) ----

  private def evoTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_evo", dir.replaceAll(".*/", ""))

  /** Deterministic post-evolution changeset (applies on v1 = v0 +
    * null lang): delete %23==4, upsert %7==0 with a backfilled lang,
    * insert %41==0 clones at +3e9 born with lang='xx'. Changeset keys
    * stay unique (the upserts exclude the delete residue). */
  private def evoChangeset(docs: DataFrame): DataFrame = {
    val lang = when(col("doc_id") % 3 === 0, "en")
      .when(col("doc_id") % 3 === 1, "de").otherwise("fr")
    docs.filter(col("doc_id") % 23 === 4)
      .select(col("doc_id"), lit("delete").as("op"), col("source"),
        col("text"), lit(null).cast("string").as("lang"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 23 =!= 4)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          col("text"), lang.as("lang")))
      .unionByName(docs.filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 3 * Snapshot.addedIdOffset).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("evo "), col("text")).as("text"), lit("xx").as("lang")))
  }

  private[graft] def builtEvoLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-evo-lineage", dir) {
      val table = evoTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      evolve(spark, table, 0,
        Seq(StructField("lang", org.apache.spark.sql.types.StringType)))
      merge(spark, table, 1, evoChangeset(docs), "doc_id")
      compact(spark, table, 2, "doc_id")
      table
    }

  /** Q-schema-evolution: v0 = the corpus (3 columns), v1 = METADATA-ONLY
    * ADD COLUMN lang (every v0 file carried by reference, nulls on
    * read), v2 = MERGE that backfills lang for a key subset and inserts
    * rows born with the new column, v3 = COMPACT (first physical
    * materialization of the evolved schema for old rows). One audit row
    * per version: column count (3→4 pins the metadata commit), row
    * count, non-null lang count (0 at v0/v1 — null backfill; positive
    * only after the data actually changes), and key/text/lang
    * fingerprint checksums. The DuckDB oracle recomputes all four
    * versions logically; v3 must equal v2 — compaction across an
    * evolution boundary preserves logical identity. */
  def qSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = builtEvoLineage(spark, dir)
    (0 to 3).map { v =>
      val df = readVersion(spark, table, v)
      val langCol =
        if (df.columns.contains("lang")) col("lang")
        else lit(null).cast("string")
      df.select(col("doc_id"), col("text"), langCol.as("lang"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("lang")).as("n_lang"),
          checksum(col("doc_id")).as("key_sum"),
          checksum(textFp(col("text"))).as("text_fp_sum"),
          coalesce(checksum(when(col("lang").isNotNull, textFp(col("lang")))),
            lit(0L)).as("lang_fp_sum"))
        .select(lit(v.toLong).as("version"), lit(df.schema.size.toLong).as("n_cols"),
          col("n_rows"), col("n_lang"), col("key_sum"), col("text_fp_sum"),
          col("lang_fp_sum"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  // ---- deletion-vector lineage (its own root) ----

  private def dvTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_dv", dir.replaceAll(".*/", ""))

  /** Deterministic post-delete changeset (applies on v1 = v0 minus the
    * %5==2 deletion vector): re-insert %10==2 (a DV-hidden subset made
    * visible again — the vector must release those keys), upsert
    * %13==7 survivors, merge-delete %17==9 survivors, insert %43==0
    * clones at +4e9. Key sets pairwise disjoint. */
  private def dvChangeset(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 2)
      .select(col("doc_id"), lit("upsert").as("op"), col("source"),
        concat(lit("back "), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 7 && col("doc_id") % 5 =!= 2)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          concat(col("text"), lit(" [v2]")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 17 === 9
          && col("doc_id") % 5 =!= 2 && col("doc_id") % 13 =!= 7)
        .select(col("doc_id"), lit("delete").as("op"), col("source"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 43 === 0)
        .select((col("doc_id") + 4 * Snapshot.addedIdOffset).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("dv "), col("text")).as("text")))

  private[graft] def builtDvLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-dv-lineage", dir) {
      val table = dvTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      deleteWhere(spark, table, 0, "doc_id", col("doc_id") % 5 === 2)
      merge(spark, table, 1, dvChangeset(docs), "doc_id")
      compact(spark, table, 2, "doc_id")
      table
    }

  /** Q-deletion-vectors: v0 = the corpus, v1 = MERGE-ON-READ DELETE
    * WHERE doc_id%5==2 (keys land in the deletion vector, zero data
    * files move), v2 = a MERGE that re-inserts a DV-hidden subset,
    * upserts/deletes survivors, and inserts fresh rows (the vector
    * must release exactly the rewritten/changed keys), v3 = COMPACT
    * (the vector materializes away). One audit row per version with
    * row count and key/text checksums — the DuckDB oracle recomputes
    * all four versions logically, so a leaked deleted row, a key the
    * vector failed to release on re-upsert, or a compaction that
    * dropped the vector too early all break the hash. The vector-SIZE
    * bookkeeping (layout-dependent) is pinned in LedgerSpec instead. */
  def qDeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val table = builtDvLineage(spark, dir)
    (0 to 3).map { v =>
      readVersion(spark, table, v)
        .agg(count(lit(1)).as("n_rows"),
          checksum(col("doc_id")).as("key_sum"),
          checksum(textFp(col("text"))).as("text_fp_sum"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("key_sum"),
          col("text_fp_sum"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  // ---- z-ordered ledger lineage (its own root) ----

  private def zTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_z", dir.replaceAll(".*/", ""))

  /** The z-ordered ledger table: v0 = events committed under a z-order
    * layout over (event_id, user_id) with user_id manifest stats —
    * `create(clusterBy = z, statCols = user_id)` — so BOTH dimensions
    * carry narrow per-file ranges; v1 = a merge-on-read DELETE (the
    * vector must compose with the pruned read path). Standing table,
    * one build per (session, corpus). */
  private[graft] def builtZLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-z-lineage", dir) {
      val table = zTableRoot(dir)
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"), col("value"))
      val Array(mnE, mxE, mnU, mxU) =
        ev.agg(min("event_id"), max("event_id"), min("user_id"), max("user_id"))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
      import graft.ops.ZOrder
      val z = ZOrder.interleave2(
        ZOrder.quantize(col("event_id"), mnE, mxE, ZOrder.Bits),
        ZOrder.quantize(col("user_id"), mnU, mxU, ZOrder.Bits), ZOrder.Bits)
      create(spark, table, ev, "event_id", nFiles = 16,
        clusterBy = Some(z), statCols = Seq("user_id"))
      deleteWhere(spark, table, 0, "event_id", col("event_id") % 101 === 7)
      table
    }

  /** Q-ledger-zorder: a range lookup on the SECONDARY dimension
    * (user_id) of a z-ordered ledger version — the lookup the key-range
    * manifest alone can never prune (on a key layout every file spans
    * the full user domain). The read goes through [[pruneFilesBy]]
    * (manifest stats on user_id) + the deletion vector + the residual
    * filter; the DuckDB oracle recomputes from the raw events table, so
    * a wrongly pruned file (lost rows) or a leaked deleted row breaks
    * the hash. The files-read strict-subset property is layout-
    * dependent and spec-pinned in LedgerSpec instead. */
  def qLedgerZorder(spark: SparkSession, dir: String): DataFrame = {
    val table = builtZLineage(spark, dir)
    readWhereRange(spark, table, 1, "user_id", 100L, 120L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_event_id"),
        graft.ops.Exact.decToDouble(
          sum(graft.ops.Exact.dec(col("value"), 2))).as("sum_value"))
      .orderBy(col("user_id"))
  }

  // ---- bloom-skipping point lookup over the shared lineage ----

  /** The shared lineage's bloom sidecar on `text`@v3, built once per
    * (session, corpus) — the standing-index discipline. */
  private[graft] def builtSkipSidecar(spark: SparkSession, dir: String): String = {
    val table = builtLineage(spark, dir)
    graft.StandingState.standing(spark, "ledger-skip-sidecar", dir) {
      analyzeColumn(spark, table, 3, "text"); table
    }
  }


  /** Q-ledger-skip: point lookup by TEXT — a non-key column on a
    * key-ranged layout, where the manifest's min/max prunes nothing —
    * over ledger version 3, read through the bloom sidecar. Lookup
    * values are the corpus texts of doc_ids 7/101/263 (untouched by
    * every changeset, so they survive to v3 verbatim; any OTHER doc
    * sharing the same text matches too, on both engines). The DuckDB
    * oracle recomputes v2 (≡ v3) logically and filters by the same
    * text set — a bloom that wrongly prunes a candidate file loses
    * rows and breaks the hash; false positives are removed by the
    * residual filter on both sides. The files-read subset itself is
    * layout-dependent and spec-pinned in LedgerSpec instead. */
  def qLedgerSkip(spark: SparkSession, dir: String): DataFrame = {
    val table = builtSkipSidecar(spark, dir)
    val lookups = Tables.documents(spark, dir)
      .filter(col("doc_id").isin(7L, 101L, 263L))
      .select(col("text")).collect().map(_.getString(0)).toSeq
    readWhereIn(spark, table, 3, "text", lookups)
      .select(col("doc_id"), col("source"), textFp(col("text")).as("text_fp"))
  }

  // ---- branches: WRITE-AUDIT-PUBLISH ----

  private def branchRoot(table: String, name: String) =
    s"$table/_branches/$name"
  private def branchBasePath(table: String, name: String) =
    s"${branchRoot(table, name)}/_base"
  private def branchPublishedPath(table: String, name: String) =
    s"${branchRoot(table, name)}/_published"

  /** Create (or replace) branch `name` of `table` at `fromVersion` —
    * the staging side of the WRITE-AUDIT-PUBLISH pattern (Iceberg's
    * WAP / Delta's shallow clone): a branch is a FULL ledger table
    * whose v0 references the base version's files by manifest entry,
    * so creating one is metadata-only (zero data I/O at any table
    * size) and EVERY table API — merge, OCC, deletion vectors, CDF,
    * time travel — works on it unchanged. Audit queries read the
    * branch head; nothing is visible on the parent until [[publish]].
    *
    * Data written by branch commits lands under the branch root
    * (`<table>/_branches/<name>/data/...`), which the parent's
    * [[vacuum]] never lists — so an unpublished branch's files can't
    * be collected out from under it, and published files (referenced
    * by a parent manifest but living under the branch dir) survive
    * parent vacuums by the same reachability rule every carried-over
    * file does. Returns the branch's table root. */
  def branch(spark: SparkSession, table: String, fromVersion: Int,
      name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name: $name")
    val b = branchRoot(table, name)
    val f = fs(spark, table)
    // replace is only legal for a branch that never published: a
    // PUBLISHED branch's data files are referenced by parent manifests
    // (they live under the branch dir — see the vacuum note above), so
    // deleting the dir to reuse the name would corrupt every parent
    // version that references them. Same O(1) marker classification as
    // [[dropBranch]] (dead publishes unwedge, in-flight ones refuse),
    // and the same rename-to-trash re-check against a racing publish;
    // the WAP retry loop uses a fresh name per cycle.
    val state = publishState(f, table, name)
    require(state != PubPublished,
      s"branch '$name' was published: its data files are live in the " +
        "parent — re-branch under a fresh name")
    refusePublished(name, state)
    if (state == PubDead)
      f.delete(new Path(branchPublishedPath(table, name)), false)
    val oldRoot = new Path(b)
    if (f.exists(oldRoot)) {
      val trash = new Path(s"$table/_trash/$name-${System.nanoTime()}")
      f.mkdirs(trash.getParent)
      if (!f.rename(oldRoot, trash))
        throw new IllegalStateException(s"could not trash branch '$name' for replace")
      if (f.exists(new Path(trash, "_published"))) {
        f.rename(trash, oldRoot)
        throw new java.util.ConcurrentModificationException(
          s"branch replace '$name' lost the race with a publish — branch " +
            "restored; re-branch under a fresh name")
      }
      f.delete(trash, true)
    }
    // The parent's CHECK set is INHERITED: a WAP branch exists to be
    // published back, so its audit window enforces the same
    // invariants — an unconstrained branch would be the one door a
    // violating row could enter the constrained table through.
    writeSmallFile(f, new Path(branchBasePath(table, name)), fromVersion.toString)
    writeVersion(spark, b, 0, manifest(spark, table, fromVersion),
      schemaOf(spark, table, fromVersion), deletionVector(spark, table, fromVersion),
      Some(constraintsOf(spark, table, fromVersion)).filter(_.nonEmpty))
    b
  }

  /** The parent version branch `name` was cut from. */
  def branchBase(spark: SparkSession, table: String, name: String): Int = {
    val p = new Path(branchBasePath(table, name))
    val f = fs(spark, table)
    require(f.exists(p), s"no branch '$name' on $table")
    readSmallFile(f, p).trim.toInt
  }

  /** PUBLISH branch `name`: fast-forward the parent to the branch
    * head — the audited snapshot becomes the parent's next version as
    * ONE commit (the branch's intermediate versions stay branch-local,
    * like an Iceberg cherry-pick of the branch tip). The parent must
    * still sit at the branch's base version: WAP's contract is that
    * the EXACT bytes the audit blessed go live, and if the parent
    * advanced, the published state would be neither the audited
    * snapshot nor a merge anyone validated — so publish aborts loudly
    * and the caller re-branches from the new head. The version claim
    * goes through the same [[LogStore]] as every other commit, so a
    * publish serializes against every CLAIMING writer ([[merge]] and
    * every other [[commitPrepared]] caller, streaming [[commitBatch]],
    * other publishes) — the loser aborts. The metadata and maintenance
    * writers ([[create]], [[evolve]], [[deleteWhere]], [[compact]],
    * [[compactBinPack]], [[setConstraints]]) still never claim;
    * publish re-verifies the head after winning the claim to shrink
    * (not close) that window.
    *
    * While still holding the claim, and BEFORE the parent manifest
    * lands, publish writes a `_published` marker into the branch root:
    * the O(1) evidence [[dropBranch]] and [[branch]] consult instead
    * of scanning every parent manifest for branch-resident files. The
    * ordering is the conservative failure mode — a publisher that dies
    * between marker and manifest leaves an unpublished branch that
    * REFUSES deletion, never a published branch that allows it. */
  def publish(spark: SparkSession, table: String, name: String,
      logStore: LogStore = AtomicCreateLogStore): Int = {
    val b = branchRoot(table, name)
    val base = branchBase(spark, table, name)
    val bHead = latestVersion(spark, b)
    require(bHead >= 0, s"branch '$name' has no committed version")
    val target = base + 1
    def conflict(why: String) =
      throw new java.util.ConcurrentModificationException(
        s"publish '$name' -> $table v$target aborted: $why (re-branch " +
          "from the current head and re-run the audit)")
    val head = latestVersion(spark, table)
    if (head != base) conflict(s"parent advanced to v$head past the audited base v$base")
    if (!logStore.tryClaim(spark, table, target))
      conflict(s"another writer holds the claim for v$target")
    // re-verify under the claim: a non-claiming writer (create,
    // evolve, deleteWhere, compact, compactBinPack, setConstraints)
    // could have landed v_target between the check and the claim —
    // this narrows the race to claiming writers' guarantees
    if (latestVersion(spark, table) != base)
      conflict(s"parent advanced past the audited base v$base after the claim")
    // claim held: v_target is ours alone. The _published marker FIRST
    // (see doc comment: dying here leaves a branch that refuses
    // deletion, the safe residue), then the version.
    writeSmallFile(fs(spark, table),
      new Path(branchPublishedPath(table, name)), target.toString)
    writeVersion(spark, table, target, manifest(spark, b, bHead),
      schemaOf(spark, b, bHead), deletionVector(spark, b, bHead))
    target
  }

  /** Publish with automatic rebase-retry — the busy-table WAP loop as
    * ONE call, the way [[mergeOcc]] wraps prepare/commit. A parent
    * commit landing during the audit makes plain [[publish]] abort by
    * design; the caller-side recovery (rebase onto the new head, try
    * again) is mechanical, so this loops it: rebase (no-op when the
    * parent hasn't moved; ABORTS on a genuine overlap conflict — those
    * must reach the caller, a retry cannot fix overlapping writes),
    * then publish. A lost claim or a just-advanced head backs off
    * briefly (the interleaved writer's manifest has to land before the
    * next rebase can see its head) and retries, up to `maxRetries`
    * cycles. Returns the published parent version. */
  def publishWithRebase(spark: SparkSession, table: String, name: String,
      keyCol: String, maxRetries: Int = 5,
      logStore: LogStore = AtomicCreateLogStore): Int = {
    var attempt = 0
    while (true) {
      rebaseBranch(spark, table, name, keyCol)
      try return publish(spark, table, name, logStore)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(25L * attempt)
      }
    }
    -1 // unreachable: the loop exits only by return or throw
  }

  /** REBASE branch `name` onto the parent's current head — the
    * Iceberg-style cherry-pick that keeps WAP from livelocking on a
    * busy table: without it, every parent commit that lands during an
    * audit forces a full re-branch + re-audit ([[publish]] aborts on
    * an advanced parent, by design). The branch's base→head delta is
    * validated against the parent's base→head delta with the SAME
    * disjointness check [[commitPrepared]] applies to an interleaved
    * commit ([[requireDisjoint]]; branch = the prepared loser, parent =
    * the winner). The branch's changed keys are its full base→head
    * change feed, deletion-vector additions included. A parent CHECK
    * change conflicts because publish fast-forwards the branch's rows
    * into the parent unvalidated; the re-branch inherits the new set.
    *
    * All checks and the rebase itself are manifest/changed-keys-sized —
    * no data file moves. Disjoint ⇒ the branch gets ONE new commit
    * whose manifest is the parent head's files, minus the files the
    * branch rewrote, plus the branch's own files; the branch's schema
    * and deletion vector carry over; `_base` advances to the parent
    * head, so [[publish]] proceeds against the new base. The published
    * result is exactly the serial order parent-commits-then-branch.
    * Returns the branch's new head version. */
  def rebaseBranch(spark: SparkSession, table: String, name: String,
      keyCol: String): Int = {
    val b = branchRoot(table, name)
    val base = branchBase(spark, table, name)
    val head = latestVersion(spark, table)
    val bHead = latestVersion(spark, b)
    require(bHead >= 0, s"branch '$name' has no committed version")
    if (head == base) return bHead // nothing to rebase onto
    require(head > base, s"parent at v$head is BEHIND the branch base v$base")
    def paths(df: DataFrame): Set[String] =
      df.select(col("path")).collect().map(_.getString(0)).toSet
    val mB = paths(manifest(spark, table, base))
    val mBr = manifest(spark, b, bHead)
    val branchHit = mB -- paths(mBr)   // files the branch rewrote/removed
    requireDisjoint(spark, table, base, schemaOf(spark, table, base).toDDL, mB,
      branchHit, dvFrom = base, head = head,
      readChanges(spark, b, 0, bHead, keyCol).select(col(keyCol).as("ck")).distinct(),
      who = "parent", me = "this branch", myKeys = "keys this branch changed",
      conflict = why => throw new java.util.ConcurrentModificationException(
        s"rebase '$name' onto $table v$head aborted: $why (re-branch " +
          "from the current head and re-run the audit)"))
    // disjoint: splice — metadata-only, then advance the base
    val target = bHead + 1
    val spliced = manifest(spark, table, head)
      .filter(!col("path").isInCollection(branchHit.toSeq :+ ""))
      .unionByName(mBr.filter(!col("path").isInCollection(mB.toSeq :+ "")))
    writeVersion(spark, b, target, spliced, schemaOf(spark, b, bHead),
      deletionVector(spark, b, bHead))
    writeSmallFile(fs(spark, table), new Path(branchBasePath(table, name)),
      head.toString)
    target
  }

  /** Classify a branch's `_published` marker. The marker records the
    * parent version the publish targeted, which makes the three
    * possible worlds distinguishable without a manifest scan:
    *
    *  - `Published`: the target version has a committed (`_SUCCESS`)
    *    parent manifest — the branch's files are live in the parent.
    *  - `InFlight`: marker present, manifest absent, the version CLAIM
    *    still held — a publisher is between marker and manifest right
    *    now, or died holding the claim (the documented recovery is
    *    deleting the claim file; see [[waitForCommitted]]'s message).
    *  - `Dead`: marker present, manifest absent, claim RELEASED — the
    *    publisher died between marker and manifest and an operator (or
    *    the claiming writer's own abort path) released the version.
    *    Nothing references the branch's files; the marker is stale
    *    residue and drop/replace/re-publish may proceed.
    *
    * An unreadable marker classifies as Published — the conservative
    * refusal direction. */
  private def publishState(f: org.apache.hadoop.fs.FileSystem,
      table: String, name: String): Int = {
    val mp = new Path(branchPublishedPath(table, name))
    if (!f.exists(mp)) return PubNone
    val target =
      try readSmallFile(f, mp).trim.toIntOption catch { case _: Exception => None }
    target match {
      case None => PubPublished
      case Some(v) =>
        if (f.exists(new Path(manifestPath(table, v) + "/_SUCCESS"))) PubPublished
        else if (f.exists(new Path(claimPath(table, v)))) PubInFlight
        else PubDead
    }
  }
  private final val PubNone = 0
  private final val PubPublished = 1
  private final val PubInFlight = 2
  private final val PubDead = 3

  private def refusePublished(name: String, state: Int): Unit = state match {
    case PubPublished => throw new IllegalArgumentException(
      s"branch '$name' was published: its data files are live in the parent")
    case PubInFlight => throw new IllegalStateException(
      s"branch '$name' has a publish in flight (or its publisher died " +
        "holding the version claim): _published marker present, parent " +
        "manifest absent, claim held. If no publisher is alive, delete " +
        "the claim file to release the version, then retry.")
    case _ => ()
  }

  /** Drop branch `name` — the audit-failed path. Deletes the branch
    * dir including any data files its commits wrote; safe at any time
    * BEFORE publish (nothing outside the branch references them) and
    * after a publish it would orphan the published files, so it
    * refuses. The published check reads the `_published` marker
    * [[publish]] wrote under its claim — ONE exists() probe, no Spark
    * job, regardless of the parent's commit count. A marker whose
    * target version has no committed manifest AND no held claim is a
    * DEAD publish (publisher died between marker and manifest, claim
    * since released): nothing references the branch, so the drop
    * proceeds instead of wedging the name forever.
    *
    * Deletion is rename-to-trash + marker re-check, not a direct
    * delete: a publish racing this drop (head check passed, marker not
    * yet written) would otherwise commit a parent manifest referencing
    * files the drop removed. The rename moves the branch — and its
    * marker, if the publish won — atomically; a marker found in the
    * trashed dir means the publish got there first, so the branch is
    * restored and the drop refuses. After the rename, the publish's
    * own reads of the branch manifest fail and it aborts before the
    * parent manifest lands. */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    val state = publishState(f, table, name)
    refusePublished(name, state)
    // a DEAD publish's marker is stale residue: clear it before the
    // trash rename so the post-rename re-check (which exists to catch
    // a LIVE racing publish's marker) doesn't mistake it for one
    if (state == PubDead)
      f.delete(new Path(branchPublishedPath(table, name)), false)
    val root = new Path(branchRoot(table, name))
    if (!f.exists(root)) return
    val trash = new Path(s"$table/_trash/$name-${System.nanoTime()}")
    f.mkdirs(trash.getParent)
    if (!f.rename(root, trash))
      throw new IllegalStateException(s"could not trash branch '$name' for drop")
    if (f.exists(new Path(trash, "_published"))) {
      f.rename(trash, root)
      throw new java.util.ConcurrentModificationException(
        s"dropBranch '$name' lost the race with a publish — branch " +
          "restored; inspect the publish outcome and retry")
    }
    f.delete(trash, true)
  }

  private def wapTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_wap", dir.replaceAll(".*/", ""))

  /** The WAP lineage: v0 = the corpus; branch `bad` stages a changeset
    * that plants empty texts (doc_id%53==0 upserted to ""), its audit
    * FAILS (empty-text count > 0) and the branch is dropped — none of
    * it may ever reach the parent. Branch `good` stages the %37==0
    * clones at +4e9 with a "wap " prefix, its audit passes (zero empty
    * texts) and publishes as parent v1. Standing table, one build per
    * (session, corpus). */
  private[graft] def builtWapLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-wap-lineage", dir) {
      val table = wapTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      val bad = branch(spark, table, 0, "bad")
      merge(spark, bad, 0, docs.filter(col("doc_id") % 53 === 0)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          lit("").as("text")), "doc_id")
      val badRows = readVersion(spark, bad, 1)
        .filter(length(col("text")) === 0).count()
      require(badRows > 0, "the bad branch must fail its audit")
      dropBranch(spark, table, "bad")
      val good = branch(spark, table, 0, "good")
      merge(spark, good, 0, docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 4000000000L).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("wap "), col("text")).as("text")), "doc_id")
      require(readVersion(spark, good, 1)
        .filter(length(col("text")) === 0).count() == 0,
        "the good branch must pass its audit")
      publish(spark, table, "good")
      table
    }

  /** Q-ledger-wap: audit the WAP lineage's published head — version
    * number (1: the branch's commit became exactly one parent
    * version), row count, key/content checksums, and the count of
    * published (+4e9) rows. The DuckDB oracle recomputes the head
    * logically: corpus ∪ the %37==0 "wap " clones — NONE of the
    * dropped bad branch's empty texts (an empty-text fingerprint
    * shifts the checksum), all of the good branch's rows. */
  def qLedgerWap(spark: SparkSession, dir: String): DataFrame = {
    val table = builtWapLineage(spark, dir)
    val head = latestVersion(spark, table)
    readVersion(spark, table, head)
      .agg(count(lit(1)).as("n_rows"),
        checksum(col("doc_id")).as("key_sum"),
        checksum(textFp(col("text"))).as("text_fp_sum"),
        sum(when(col("doc_id") >= 4000000000L, 1L).otherwise(0L)).as("n_published"))
      .select(lit(head.toLong).as("n_versions"), col("n_rows"),
        col("key_sum"), col("text_fp_sum"), col("n_published"))
  }

  private def rebaseTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_rebase", dir.replaceAll(".*/", ""))

  /** The REBASE lineage: v0 = the corpus; branch `hotfix` stages the
    * %37==0 clones at +5e9 with a "rebase " prefix while a DIRECT
    * parent commit lands v1 (the %29==0 docs re-texted "main " — the
    * busy-table interleave that aborts a plain publish). The branch
    * REBASES onto v1 (disjoint: the branch's inserts touch no base
    * file, the parent added no key above 5e9), then publishes as v2.
    * Standing table, one build per (session, corpus). */
  private[graft] def builtRebaseLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-rebase-lineage", dir) {
      val table = rebaseTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      create(spark, table, docs, "doc_id")
      val b = branch(spark, table, 0, "hotfix")
      merge(spark, b, 0, docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"),
          lit("upsert").as("op"), col("source"),
          concat(lit("rebase "), col("text")).as("text")), "doc_id")
      merge(spark, table, 0, docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id"), lit("upsert").as("op"), col("source"),
          concat(lit("main "), col("text")).as("text")), "doc_id")
      // plain publish MUST abort here (parent at v1, audited base 0) —
      // the exact situation rebase exists for
      val aborted =
        try { publish(spark, table, "hotfix"); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      require(aborted, "publish must abort on the advanced parent")
      rebaseBranch(spark, table, "hotfix", "doc_id")
      require(publish(spark, table, "hotfix") == 2,
        "the rebased branch must publish as parent v2")
      table
    }

  /** Q-ledger-rebase: audit the rebase-then-publish head — the busy-
    * table WAP cycle ([[rebaseBranch]]): version number, row count,
    * key/content checksums, the rebased (+5e9) row count and the
    * interleaved direct commit's ("main ") row count. The DuckDB
    * oracle recomputes the head logically: corpus with the %29==0
    * texts re-prefixed ∪ the %37==0 "rebase " clones — BOTH sides of
    * the interleave must survive, which is exactly what a lost splice
    * (dropped parent edit or dropped branch insert) would break. */
  def qLedgerRebase(spark: SparkSession, dir: String): DataFrame = {
    val table = builtRebaseLineage(spark, dir)
    val head = latestVersion(spark, table)
    readVersion(spark, table, head)
      .agg(count(lit(1)).as("n_rows"),
        checksum(col("doc_id")).as("key_sum"),
        checksum(textFp(col("text"))).as("text_fp_sum"),
        sum(when(col("doc_id") >= 5000000000L, 1L).otherwise(0L)).as("n_rebased"),
        sum(when(col("text").startsWith("main "), 1L).otherwise(0L)).as("n_main"))
      .select(lit(head.toLong).as("n_versions"), col("n_rows"),
        col("key_sum"), col("text_fp_sum"), col("n_rebased"), col("n_main"))
  }

  // ---- incremental JOIN-view maintenance (two-tier / factorized) ----

  private def dimTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_dim", dir.replaceAll(".*/", ""))

  /** Dim-side lineage for the join view — STRING-keyed on purpose (the
    * manifest range logic and copy-on-write must not assume numeric
    * keys): v0 = one row per distinct corpus source with weight =
    * 7·length(source)+3; v1 = MERGE bumping +11 where the source's
    * first codepoint is even; v2 = MERGE deleting the
    * lexicographically smallest source (a dim delete must retract
    * every joined row's contribution from the view). */
  private[graft] def builtDimLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-dim-lineage", dir) {
      val table = dimTableRoot(dir)
      val dims0 = Tables.documents(spark, dir).select(col("source")).distinct()
        .select(col("source"),
          (length(col("source")) * 7 + 3).cast("long").as("weight"))
      create(spark, table, dims0, "source", nFiles = 2)
      merge(spark, table, 0,
        readVersion(spark, table, 0)
          .filter(ascii(substring(col("source"), 1, 1)) % 2 === 0)
          .select(col("source"), lit("upsert").as("op"),
            (col("weight") + 11).as("weight")), "source")
      val mn = readVersion(spark, table, 1).agg(min(col("source"))).head.getString(0)
      merge(spark, table, 1,
        readVersion(spark, table, 1).filter(col("source") === mn)
          .select(col("source"), lit("delete").as("op"), col("weight")), "source")
      table
    }

  /** Q-ledger-incr-join: INCREMENTAL maintenance of a JOIN view across
    * TWO independently-committing ledger tables — docs (the shared
    * lineage, fact side) ⋈ dims (source → weight, dim side) aggregated
    * per k = doc_id%5, a group key that CROSSES the join key so a dim
    * change touches every group.
    *
    * The two-tier (factorized) IVM shape — the only one that survives
    * 100 TB: tier 1 maintains per-(k, source) FACT PARTIALS (count,
    * fingerprint-sum) from the fact table's full change feed — feed-
    * sized work per fact commit, and the compaction version must
    * contribute nothing. Tier 2 combines partials with the dim side:
    * the view bootstraps against dim v0 and then applies the DIM
    * table's full feed as signed (multiplicity, weight) deltas joined
    * to the partials — dim-cardinality work per dim commit, never a
    * rescan of fact data. A dropped pre-image on either feed, a sign
    * error, or a dim delete that fails to retract its joined rows all
    * break the hash against the oracle's from-scratch head join. */
  def qLedgerIncrJoin(spark: SparkSession, dir: String): DataFrame = {
    val docsT = builtLineage(spark, dir)
    val dimT = builtDimLineage(spark, dir)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // the declared query is ONE defineJoinView + ONE refreshJoinView:
    // tier 1 (fact partials per (k, source)) and tier 2 (dim (m, w)
    // per source) are each a maintained [[ViewSpec]] refreshed from
    // their OWN table's feed — the factorized shape's plumbing
    // (bootstrap artifacts, signed deltas, zero-net group drops) is
    // the API contract now; the modular fold + order stay here
    defineJoinView(spark, s"incr_join@$dir", JoinViewSpec(
      fact = ViewSpec(docsT, dir, "doc_id",
        groups = Seq("k" -> pmod(col("doc_id"), lit(5)),
          "source" -> col("source")),
        countAs = "cnt",
        sums = Seq("fpsum" -> textFp(col("text")).cast(dec38))),
      dim = ViewSpec(dimT, dir, "source",
        groups = Seq("source" -> col("source")), countAs = "bm",
        sums = Seq("bw" -> col("weight"))),
      joinCol = "source", groupCols = Seq("k"),
      pairs = Seq(
        "n_pairs" -> sum(col("cnt") * col("bm")),
        "wfp_sum" -> pmod(sum((col("fpsum") * col("bw")).cast(dec38)), modulus)
          .cast("long"))))
    refreshJoinView(spark, s"incr_join@$dir", factUpTo = 3, dimUpTo = 2)
      .orderBy(col("k"))
  }

  // ----- Q-ledger-constraints fixtures -----

  private def ckTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_ck", dir.replaceAll(".*/", ""))

  /** The constraints lineage: CREATE with two CHECKs → one valid MERGE
    * → one REFUSED merge (mixed changeset: valid rows + negative
    * n_chars rows — atomicity means NOTHING from it lands) → one more
    * valid MERGE. Deterministic modular changesets like every other
    * ledger fixture. */
  private[graft] def builtCkLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-ck-lineage", dir) {
      val table = ckTableRoot(dir)
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      create(spark, table, docs, "doc_id", checks = Seq(
        Check("n_chars_nonneg", "n_chars >= 0"),
        Check("lang_present", "lang IS NOT NULL AND lang <> ''")))
      // valid changeset 1: delete %17==3, bump %13==1 by +1000,
      // insert %29==0 clones at +1e9 with doubled n_chars
      val cs1 = docs.filter(col("doc_id") % 17 === 3)
        .select(col("doc_id"), lit("delete").as("op"), col("lang"), col("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 3)
          .select(col("doc_id"), lit("upsert").as("op"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            lit("upsert").as("op"), col("lang"),
            (col("n_chars") * 2L).as("n_chars")))
      merge(spark, table, 0, cs1, "doc_id")
      // REFUSED changeset: %7==0 rows break n_chars_nonneg; the %5==1
      // rows are perfectly valid and must not land either
      val bad = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("upsert").as("op"), col("lang"),
          lit(-1L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 5 === 1 && col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), lit("upsert").as("op"), col("lang"),
            (col("n_chars") + 1L).as("n_chars")))
      val refused =
        try { merge(spark, table, 1, bad, "doc_id"); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "constraint-violating merge was not refused")
      require(latestVersion(spark, table) == 1,
        "refused merge must not advance the version")
      // valid changeset 2 over the logical v1: delete %19==2,
      // bump %11==5 by +7
      val v1 = docs.filter(col("doc_id") % 17 =!= 3)
        .withColumn("n_chars", when(col("doc_id") % 13 === 1,
          col("n_chars") + 1000L).otherwise(col("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
            (col("n_chars") * 2L).as("n_chars")))
      val cs2 = v1.filter(col("doc_id") % 19 === 2)
        .select(col("doc_id"), lit("delete").as("op"), col("lang"), col("n_chars"))
        .unionByName(v1.filter(col("doc_id") % 11 === 5 && col("doc_id") % 19 =!= 2)
          .select(col("doc_id"), lit("upsert").as("op"), col("lang"),
            (col("n_chars") + 7L).as("n_chars")))
      merge(spark, table, 1, cs2, "doc_id")
      table
    }

  // ----- Q-ledger-binpack fixtures -----

  private def bpTableRoot(dir: String): String =
    graft.GraftPaths.sink("graft_ledger_bp", dir.replaceAll(".*/", ""))

  /** The bin-pack lineage: one right-sized base file, two insert-only
    * merges that each land a small frontier file, then ONE
    * [[compactBinPack]] pass that must select exactly the two frontier
    * files (target = half the corpus — scale-independent: the base
    * file is always right-sized, the modular-clone frontiers never
    * are) and carry the base by reference. */
  private[graft] def builtBpLineage(spark: SparkSession, dir: String): String =
    graft.StandingState.standing(spark, "ledger-bp-lineage", dir) {
      val table = bpTableRoot(dir)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val n = docs.count()
      create(spark, table, docs, "doc_id", nFiles = 1)
      merge(spark, table, 0, docs.filter(col("doc_id") % 23 === 1)
        .select((col("doc_id") + 3000000000L).as("doc_id"),
          lit("upsert").as("op"), concat(lit("bp1 "), col("text")).as("text")),
        "doc_id")
      merge(spark, table, 1, docs.filter(col("doc_id") % 31 === 2)
        .select((col("doc_id") + 4000000000L).as("doc_id"),
          lit("upsert").as("op"), concat(lit("bp2 "), col("text")).as("text")),
        "doc_id")
      val basePaths = manifest(spark, table, 0)
        .select("path").collect().map(_.getString(0)).toSet
      val packed = compactBinPack(spark, table, 2, "doc_id",
        targetRows = math.max(1L, n / 2))
      require(packed == 2, s"expected to pack the 2 frontier files, got $packed")
      val after = manifest(spark, table, 3)
        .select("path").collect().map(_.getString(0)).toSet
      require(basePaths.subsetOf(after), "base file must carry by reference")
      table
    }

  /** Q-ledger-binpack: incremental small-file compaction end to end —
    * the packed head must carry EXACTLY the logical content of the
    * lineage (base corpus + both frontier insert batches); a dropped
    * or duplicated row in the rewrite, a lost carried file, or a
    * frontier file surviving unpacked all break the hash. */
  def qLedgerBinpack(spark: SparkSession, dir: String): DataFrame = {
    val table = builtBpLineage(spark, dir)
    readVersion(spark, table, 3)
      .select(col("doc_id"), textFp(col("text")).as("text_fp"))
      .orderBy(col("doc_id"))
  }

  /** Q-ledger-constraints: CHECK constraints as commit-path
    * enforcement, end to end — the final table is the two VALID merges
    * applied in order with the violating changeset contributing
    * NOTHING (not even its valid rows: constraint refusal is atomic).
    * The DuckDB oracle recomputes that content logically from the raw
    * corpus, so an enforcement hole (the bad changeset landing, the
    * valid one refused, or a partial application) breaks the hash. */
  def qLedgerConstraints(spark: SparkSession, dir: String): DataFrame = {
    val table = builtCkLineage(spark, dir)
    readVersion(spark, table, 2)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
}
