package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** S3 — the migration path off the reference's dump pipeline: mysqldump
  * text → the three nova-shaped tables the billing pipeline reads.
  *
  * The reference converts mysqldump → SQLite with an external binary and
  * re-reads it per run (fetch.py:98-124, model.py:180-186). Here
  * [[tables]] reads the dump once, in place: `Main --dump-file` bills
  * straight from its DataFrames with no load step, and the convert CLI
  * ([[convert]]) writes the same DataFrames out as parquet, so that later
  * runs get pruned columnar scans.
  *
  * The parse is distributed: `spark.read.text` splits the dump file
  * across executors, each `INSERT INTO` line of any pipeline table is
  * routed by its prefix and parses where it lands (mysqldump writes one
  * extended-INSERT statement per line), and only the CREATE TABLE column
  * lists — a few KB of DDL lines — ever reach the driver. The dump text is
  * scanned twice, whatever the number of tables: once for the DDL, once
  * for every INSERT.
  *
  * Gzip is NOT a splittable codec — the real dumps are `.sql.gz`
  * (fetch.py:28-39), and reading one through `spark.read.text` directly
  * parses the whole file in ONE task. [[stageSplittable]] closes that
  * hole: `.gz` inputs stream-gunzip once (the inherently serial step —
  * same cost the reference pays in its explicit `gzip -d`) into a
  * decompressed staging copy, and the expensive part — the INSERT parse —
  * runs distributed over that splittable copy. Only the gunzip itself is
  * serial, and it is IO-bound, not CPU-bound.
  *
  * Value grammar handled (mysqldump defaults): single-quoted strings with
  * backslash escapes, bare numerics, NULL, parenthesized tuples separated
  * by commas.
  */
object DumpConvert {

  /** The three tables the billing pipeline reads (model.py:228-244,
    * 205-209) and the column types `Ingest.table` expects downstream.
    */
  val tableSchemas: Map[String, Seq[(String, String)]] = Map(
    "instances" -> Seq(
      "uuid" -> "string", "hostname" -> "string",
      "instance_type_id" -> "long", "memory_mb" -> "long",
      "vcpus" -> "int", "deleted_at" -> "timestamp",
      "deleted" -> "int", "project_id" -> "string"),
    "instance_extra" -> Seq(
      "instance_uuid" -> "string", "pci_requests" -> "string"),
    "instance_actions" -> Seq(
      "instance_uuid" -> "string", "created_at" -> "timestamp",
      "action" -> "string", "message" -> "string"))

  /** Nova's auto-increment key of `instance_actions`, kept when the dump
    * declares it: `Billing` breaks same-second ties by it, as the
    * reference does by SQLite rowid.
    */
  private val ActionId = "id" -> "long"

  /** Offset of the first case-insensitive `VALUES` keyword, or -1. */
  private def valuesAt(s: String): Int = {
    var i = 0
    while (i + 6 <= s.length && !s.regionMatches(true, i, "VALUES", 0, 6)) i += 1
    if (i + 6 <= s.length) i else -1
  }

  /** Every `(...)` tuple after the VALUES keyword of one INSERT
    * statement, as a row array (null = SQL NULL). String literals decode
    * their escapes per the MySQL string grammar (`''` doubling also
    * accepted). Pure function — safe inside executors.
    */
  private def parseRows(s: String): Seq[Array[String]] = {
    val vi = valuesAt(s)
    if (vi < 0) return Seq.empty
    var i = vi + "VALUES".length
    val rows = Seq.newBuilder[Array[String]]
    var row: scala.collection.mutable.ArrayBuffer[String] = null
    while (i < s.length) {
      s.charAt(i) match {
        case '(' =>
          row = scala.collection.mutable.ArrayBuffer.empty[String]; i += 1
        case ')' =>
          if (row != null) { rows += row.toArray; row = null }
          i += 1
        case '\'' =>
          // string literal: scan to the closing quote honoring \-escapes
          // and '' doubling
          val b = new StringBuilder
          i += 1
          var done = false
          while (!done && i < s.length) {
            val c = s.charAt(i)
            if (c == '\\' && i + 1 < s.length) {
              b.append(s.charAt(i + 1) match {
                case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
                case '0' => '\u0000'; case 'b' => '\b'; case 'Z' => '\u001a'
                case other => other // covers \' \" \\ and pass-through
              })
              i += 2
            } else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') { b.append('\''); i += 2 }
            else if (c == '\'') { done = true; i += 1 }
            else { b.append(c); i += 1 }
          }
          if (row != null) row += b.toString
        case c if c == ',' || c.isWhitespace || c == ';' =>
          i += 1
        case _ =>
          // bare token: number or NULL, up to the next delimiter
          val j = s.indexWhere(ch => ch == ',' || ch == ')' || ch.isWhitespace, i)
          val end = if (j < 0) s.length else j
          val tok = s.substring(i, end)
          if (row != null) row += (if (tok.equalsIgnoreCase("NULL")) null else tok)
          i = end
      }
    }
    rows.result()
  }

  /** [[parseRows]] with NULL as None — the value grammar's test surface. */
  def parseTuples(stmt: String): Seq[Seq[Option[String]]] =
    parseRows(stmt).map(_.toSeq.map(Option(_)))

  /** The explicit column list of a `--complete-insert` statement
    * (`INSERT INTO t (a, b) VALUES ...`), if present before VALUES.
    */
  def insertColumns(stmt: String): Option[Seq[String]] = {
    val vi = valuesAt(stmt)
    if (vi < 0) return None
    val head = stmt.substring(0, vi)
    val open = head.indexOf('(')
    val close = head.lastIndexOf(')')
    if (open < 0 || close <= open) None
    else Some(head.substring(open + 1, close)
      .split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq)
  }

  /** Associate backticked column-definition lines with their most recent
    * `CREATE TABLE` header — the driver-side step, fed only DDL lines.
    * Input pairs are (file-order index, line text).
    */
  def createColumns(ddlLines: Seq[(Long, String)]): Map[String, Seq[String]] = {
    val header = """(?i)\s*CREATE TABLE\s+`?(\w+)`?.*""".r
    val colDef = """\s*`(\w+)`\s.*""".r
    var current: String = null
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    ddlLines.sortBy(_._1).foreach {
      case (_, header(t)) => current = t; acc.getOrElseUpdate(current, Vector.empty)
      case (_, colDef(c)) if current != null => acc(current) = acc(current) :+ c
      case _ => ()
    }
    acc.toMap.view.mapValues(_.toSeq).toMap
  }

  /** Stage a non-splittable dump into a form the distributed parse can
    * split. `.gz` inputs stream-gunzip ONCE through Hadoop IO (works for
    * `file://` and `s3a://` alike) into `stagingDir`; anything else
    * passes through untouched. The staged copy is registered for
    * delete-on-exit.
    *
    * `stagingDir` defaults to the local tmpdir (right for local mode and
    * for a driver-side staging step); a multi-executor cluster should
    * point `SPARK_GRAFT_STAGING_DIR` at a shared filesystem (HDFS, S3)
    * so the staged copy is visible to every executor.
    */
  def stageSplittable(spark: SparkSession, dumpPath: String,
      stagingDir: String = sys.env.getOrElse("SPARK_GRAFT_STAGING_DIR",
        sys.props("java.io.tmpdir"))): String =
    if (!dumpPath.endsWith(".gz")) dumpPath
    else {
      // The default staging dir is the DRIVER's local tmpdir — executors
      // on other hosts cannot read it, so the subsequent distributed
      // spark.read.text would fail with FileNotFound on every non-driver
      // task. Refuse up front with the fix in the message rather than
      // letting the cluster discover it one task failure at a time. (An
      // explicitly-passed stagingDir or SPARK_GRAFT_STAGING_DIR is
      // trusted to be executor-visible.)
      require(spark.sparkContext.isLocal ||
          stagingDir != sys.props("java.io.tmpdir"),
        "stageSplittable: staging a .gz dump on a non-local master needs " +
          "a staging dir every executor can read (HDFS/S3) — set " +
          "SPARK_GRAFT_STAGING_DIR or pass stagingDir; the default " +
          s"${sys.props("java.io.tmpdir")} is driver-local")
      val conf = spark.sessionState.newHadoopConf()
      val src = new org.apache.hadoop.fs.Path(dumpPath)
      val srcFs = src.getFileSystem(conf)
      val dst = new org.apache.hadoop.fs.Path(stagingDir,
        s"graft-stage-${java.util.UUID.randomUUID()}-" +
          src.getName.stripSuffix(".gz"))
      val dstFs = dst.getFileSystem(conf)
      val in = new java.util.zip.GZIPInputStream(srcFs.open(src))
      val out = dstFs.create(dst, true)
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, true)
      dstFs.deleteOnExit(dst)
      dst.toString
    }

  /** The single dump file, verified: the DDL pass relies on
    * `monotonically_increasing_id` reflecting file-offset order, which
    * Spark's text source guarantees for ONE file but not for a directory
    * or glob (multi-file listing order is a filesystem detail).
    */
  private def requireSingleFile(spark: SparkSession, dumpPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dumpPath)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    require(st.isFile,
      s"dump path must be a single file, not a directory/glob: $dumpPath")
  }

  /** Column order of each CREATE TABLE in the dump. Only lines that look
    * like DDL are collected (KBs); the scan itself is distributed.
    * `monotonically_increasing_id` is partition-major and `spark.read
    * .text` assigns partitions in file-offset order for a single file
    * (enforced by [[requireSingleFile]]), so sorting by it restores file
    * order for the collected subset.
    */
  def tableColumns(spark: SparkSession, dumpPath: String): Map[String, Seq[String]] = {
    requireSingleFile(spark, dumpPath)
    val lines = spark.read.text(dumpPath)
      .select(monotonically_increasing_id().as("id"), col("value"))
      .filter(col("value").rlike("^\\s*CREATE TABLE ") ||
        col("value").rlike("^\\s*`\\w+` "))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    createColumns(lines)
  }

  /** How one dump's INSERT lines of one table become target-order rows:
    * the statement prefixes that select them, the target columns, and
    * their positions in the table's CREATE order.
    */
  private final case class Route(table: String, prefixes: Seq[String],
      targets: Seq[String], createPos: Array[Int])

  /** The pipeline tables of one parse — the rows materialized once, each
    * table a typed projection of them.
    */
  final class DumpTables private[DumpConvert] (
      source: String, byName: Map[String, DataFrame], rows: org.apache.spark.rdd.RDD[_]) {

    /** One table, typed as [[tableSchemas]], plus `instance_actions.id`
      * when every dump that declares the table declares it.
      */
    def apply(table: String): DataFrame = byName.getOrElse(table,
      throw new IllegalArgumentException(
        s"no dump in $source has CREATE TABLE `$table` — tables found: " +
          byName.keys.toSeq.sorted.mkString(", ")))

    /** Free the materialized rows; the tables are unusable afterwards. */
    def release(): Unit = rows.unpersist(blocking = true)
  }

  /** The `.sql`/`.sql.gz` dumps under `dumpDir`, including one directory
    * level down (the fetch layout is `dbs/<controller>/nova-<date>.sql.gz`
    * — fetch.py:42-56), in path-sorted order so controller 0 outranks
    * controller 1 exactly like the reference's fallback loop.
    */
  private def listDumps(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] = {
    def isDump(n: String) = n.endsWith(".sql") || n.endsWith(".sql.gz")
    val top = fs.listStatus(dir)
    (top.filter(s => s.isFile && isDump(s.getPath.getName)) ++
      top.filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(s => s.isFile && isDump(s.getPath.getName))))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Load the pipeline tables of a dump file, or of a directory of
    * per-controller dumps, from one parse.
    *
    * Each dump is staged ([[stageSplittable]]), its DDL read
    * ([[tableColumns]]), and then every dump's INSERT lines of every
    * pipeline table are parsed in ONE `spark.read.text` pass, cast to the
    * target types, and materialized by an eager local checkpoint; staged
    * copies are deleted right after. A table whose CREATE lacks a
    * pipeline column fails here, loudly, rather than producing nulls.
    * `--complete-insert` statements realign to the target columns per
    * line (absent columns → NULL).
    *
    * A directory holds each controller's dump of the same database, and
    * any one of them may be stale, partial, or empty. Per pipeline table:
    *
    *   - `merge = "first"`: the first (controller-ordered) dump whose
    *     parse yields rows for that table wins — the reference's
    *     first-non-empty-listing fallback (fetch.py:42-74), applied
    *     per-table instead of wholesale so one controller's truncated
    *     dump can't blank a table another controller has. When every
    *     dump's table is empty, the first declaring dump's empty,
    *     correctly-typed table is used;
    *   - `merge = "union"`: all dumps' rows concatenate (sharded
    *     sources, where each dump holds a disjoint slice).
    *
    * The caller owns the materialized rows: call `release()` when done.
    * They are held in executor memory, spilling to disk, and, like any
    * local checkpoint, cannot be recomputed if an executor is lost.
    */
  def tables(spark: SparkSession, dumpPath: String,
      merge: String = "first"): DumpTables = {
    require(merge == "first" || merge == "union",
      s"merge must be 'first' or 'union', got '$merge'")
    val p = new org.apache.hadoop.fs.Path(dumpPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val dumps =
      if (fs.getFileStatus(p).isDirectory) listDumps(fs, p) else Seq(dumpPath)
    require(dumps.nonEmpty, s"no .sql/.sql.gz dumps found under $dumpPath")
    val staged = dumps.map(d => stageSplittable(spark, d))
    try {
      val ddl = staged.map(tableColumns(spark, _))
      val keepId = ddl.flatMap(_.get("instance_actions")).forall(_.contains(ActionId._1))
      val targets = tableSchemas.map { case (t, cs) =>
        t -> (if (t == "instance_actions" && keepId) cs :+ ActionId else cs)
      }
      val names = targets.keys.toSeq.sorted
      val routes = ddl.map(cols => names.filter(cols.contains).map { t =>
        val createOrder = cols(t)
        val wanted = targets(t).map(_._1)
        val missing = wanted.filterNot(createOrder.contains)
        require(missing.isEmpty,
          s"dump's `$t` lacks columns the pipeline needs: ${missing.mkString(", ")}")
        Route(t, Seq(s"INSERT INTO `$t` ", s"INSERT INTO $t "),
          wanted, wanted.map(createOrder.indexOf).toArray)
      })

      import spark.implicits._
      val raw = staged.zip(routes).zipWithIndex.map { case ((path, rs), src) =>
        spark.read.textFile(path)
          .flatMap { (l: String) =>
            rs.find(r => r.prefixes.exists(pre => l.startsWith(pre))) match {
              case None => Nil
              case Some(r) =>
                val pos = insertColumns(l) match {
                  case None => r.createPos
                  case Some(cs) => r.targets.map(cs.indexOf).toArray
                }
                parseRows(l).map { t =>
                  (r.table, pos.map(i => if (i >= 0 && i < t.length) t(i) else null))
                }
            }
          }
          .toDF("tbl", "value").withColumn("src", lit(src))
      }.reduce(_.unionByName(_))
      // one nullable struct per table; a row fills the one it belongs to
      val parsed = raw.select(col("src") +: names.map { t =>
        when(col("tbl") === t, struct(targets(t).zipWithIndex.map { case ((c, ty), i) =>
          col("value")(i).cast(ty).as(c)
        }: _*)).as(t)
      }: _*).localCheckpoint(eager = true)

      // rows per (dump, table), read only where dumps compete for a table
      lazy val counts = parsed.groupBy("src")
        .agg(count(col(names.head)).as(names.head), names.tail.map(t => count(col(t)).as(t)): _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      def rowsOf(src: Int, t: String): Long = counts.get(src).fold(0L)(_.getAs[Long](t))
      val byName = names.flatMap { t =>
        val declaring = routes.indices.filter(routes(_).exists(_.table == t))
        Option.when(declaring.nonEmpty) {
          val rows = parsed.filter(col(t).isNotNull)
          val picked =
            if (merge == "union" || declaring.size == 1) rows
            else rows.filter(col("src") ===
              declaring.find(rowsOf(_, t) > 0).getOrElse(declaring.head))
          t -> picked.select(col(s"$t.*"))
        }
      }.toMap
      new DumpTables(dumpPath, byName,
        parsed.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get)
    } finally staged.zip(dumps).foreach { case (s, d) =>
      if (s != d) {
        val sp = new org.apache.hadoop.fs.Path(s)
        val sfs = sp.getFileSystem(spark.sessionState.newHadoopConf())
        sfs.cancelDeleteOnExit(sp)
        sfs.delete(sp, false)
      }
    }
  }

  /** Convert a dump file or a per-controller dump directory (see
    * [[tables]] for `merge`) to the parquet layout `Main --data-dir`
    * expects: one `<out>/<table>.parquet` per pipeline table.
    */
  def convert(spark: SparkSession, dumpPath: String, outDir: String,
      merge: String = "first"): Unit = {
    val dump = tables(spark, dumpPath, merge)
    try tableSchemas.keys.toSeq.sorted.foreach { t =>
      dump(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    } finally dump.release()
  }

  /** CLI: runMain graft.etl.DumpConvert <dump.sql|dumpDir> <outDir> [first|union] */
  def main(args: Array[String]): Unit = {
    val (dumpPath, outDir, merge) = args match {
      case Array(d, o)    => (d, o, "first")
      case Array(d, o, m) => (d, o, m)
      case _ => throw new IllegalArgumentException(
        "usage: graft.etl.DumpConvert <dump.sql|dumpDir> <outDir> [first|union]")
    }
    val spark = graft.GraftSession.local()
    try convert(spark, dumpPath, outDir, merge)
    finally spark.stop()
    println(s"[dump-convert] wrote ${tableSchemas.size} tables to $outDir")
  }
}
