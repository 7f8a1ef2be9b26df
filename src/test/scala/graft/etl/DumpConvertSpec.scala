package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** mysqldump→parquet migration tool: value-grammar unit tests plus the
  * round-trip that matters — a nova-shaped dump through `convert` and the
  * full billing CLI produces the same invoice the parquet path produces
  * (MainSpec's e2e scenario).
  */
class DumpConvertSpec extends AnyFunSuite {

  test("VALUES tuples: strings, escapes, NULL, numbers, multiple tuples") {
    val ts = DumpConvert.parseTuples(
      """INSERT INTO `t` VALUES (1,'a b',NULL,-2.5),('it\'s','x''y','a\\b',3);""")
    assert(ts == Seq(
      Seq(Some("1"), Some("a b"), None, Some("-2.5")),
      Seq(Some("it's"), Some("x'y"), Some("a\\b"), Some("3"))))
  }

  test("string values containing parens/commas/semicolons parse intact") {
    val ts = DumpConvert.parseTuples(
      """INSERT INTO `t` VALUES ('(a,b);c',2),('d',NULL);""")
    assert(ts == Seq(Seq(Some("(a,b);c"), Some("2")), Seq(Some("d"), None)))
  }

  test("CREATE TABLE column order: per-table, constraint lines ignored") {
    val ddl = Seq(
      (0L, "CREATE TABLE `instances` ("),
      (1L, "  `uuid` varchar(36) NOT NULL,"),
      (2L, "  `vcpus` int DEFAULT NULL,"),
      (3L, "  PRIMARY KEY (`uuid`),"),
      (4L, "  KEY `ix` (`vcpus`)"),
      (5L, "CREATE TABLE `instance_extra` ("),
      (6L, "  `instance_uuid` varchar(36) NOT NULL,"),
      (7L, "  `pci_requests` text"))
    assert(DumpConvert.createColumns(ddl) == Map(
      "instances" -> Seq("uuid", "vcpus"),
      "instance_extra" -> Seq("instance_uuid", "pci_requests")))
  }

  test("round-trip: mysqldump → parquet → billing CLI → same invoice") {
    val spark = graft.SparkTestSession.spark
    // same scenario as MainSpec's e2e: one CPU instance, create + delete
    // 10h apart, extra columns (id, launched_at) the pipeline ignores —
    // exercising name-based selection out of CREATE order
    val dump =
      """-- MySQL dump 10.13
        |CREATE TABLE `instances` (
        |  `id` int NOT NULL AUTO_INCREMENT,
        |  `uuid` varchar(36) NOT NULL,
        |  `hostname` varchar(255) DEFAULT NULL,
        |  `launched_at` datetime DEFAULT NULL,
        |  `instance_type_id` int DEFAULT NULL,
        |  `memory_mb` int DEFAULT NULL,
        |  `vcpus` int DEFAULT NULL,
        |  `deleted_at` datetime DEFAULT NULL,
        |  `deleted` int DEFAULT NULL,
        |  `project_id` varchar(255) DEFAULT NULL,
        |  PRIMARY KEY (`id`)
        |);
        |INSERT INTO `instances` VALUES (7,'i1','host1','2024-01-01 00:00:00',1,8192,2,NULL,0,'projA');
        |CREATE TABLE `instance_extra` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `pci_requests` text
        |);
        |INSERT INTO `instance_extra` VALUES ('i1',NULL);
        |CREATE TABLE `instance_actions` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `created_at` datetime DEFAULT NULL,
        |  `action` varchar(255) DEFAULT NULL,
        |  `message` varchar(255) DEFAULT NULL
        |);
        |INSERT INTO `instance_actions` VALUES ('i1','2024-01-01 00:00:00','create',''),('i1','2024-01-01 10:00:00','delete','');
        |""".stripMargin
    val dumpFile = java.nio.file.Files.createTempFile("graft-dump", ".sql")
    java.nio.file.Files.writeString(dumpFile, dump)
    val dataDir = java.nio.file.Files.createTempDirectory("graft-dump-pq").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-dump-csv").toString

    DumpConvert.convert(spark, dumpFile.toString, dataDir)

    // typed exactly as Ingest downstream expects
    val inst = spark.read.parquet(s"$dataDir/instances.parquet")
    assert(inst.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "uuid" -> "string", "hostname" -> "string",
      "instance_type_id" -> "bigint", "memory_mb" -> "bigint",
      "vcpus" -> "int", "deleted_at" -> "timestamp",
      "deleted" -> "int", "project_id" -> "string"))

    graft.Main.run(graft.Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)

    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("Project - Allocation") == "projA")
    assert(byCol("SU Hours (GBhr or SUhr)") == "20") // 10h × 2 SU
    assert(byCol("Cost") == "0.26")
  }

  test("gzipped dump straight through the CLI: --dump-file nova.sql.gz") {
    val spark = graft.SparkTestSession.spark
    // minimal single-instance dump, gzipped the way the S3 objects are
    // (nova-YYYYMMDD.sql.gz); Spark's text reader decompresses inline,
    // so the reference's explicit gunzip step disappears
    val dump =
      """CREATE TABLE `instances` (
        |  `uuid` varchar(36) NOT NULL,
        |  `hostname` varchar(255) DEFAULT NULL,
        |  `instance_type_id` int DEFAULT NULL,
        |  `memory_mb` int DEFAULT NULL,
        |  `vcpus` int DEFAULT NULL,
        |  `deleted_at` datetime DEFAULT NULL,
        |  `deleted` int DEFAULT NULL,
        |  `project_id` varchar(255) DEFAULT NULL
        |);
        |INSERT INTO `instances` VALUES ('i1','host1',1,8192,2,NULL,0,'projA');
        |CREATE TABLE `instance_extra` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `pci_requests` text
        |);
        |INSERT INTO `instance_extra` VALUES ('i1',NULL);
        |CREATE TABLE `instance_actions` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `created_at` datetime DEFAULT NULL,
        |  `action` varchar(255) DEFAULT NULL,
        |  `message` varchar(255) DEFAULT NULL
        |);
        |INSERT INTO `instance_actions` VALUES ('i1','2024-01-01 00:00:00','create',''),('i1','2024-01-01 10:00:00','delete','');
        |""".stripMargin
    val gz = java.nio.file.Files.createTempFile("nova-20240101", ".sql.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(dump.getBytes("UTF-8")); out.close()
    val outDir = java.nio.file.Files.createTempDirectory("graft-gz-csv").toString

    graft.Main.run(graft.Main.parseArgs(Seq(
      "--dump-file", gz.toString, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)

    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("Project - Allocation") == "projA")
    assert(byCol("Cost") == "0.26")
  }

  test("gz staging: the INSERT parse runs over >1 partition, not one gzip task") {
    val spark = graft.SparkTestSession.spark
    // a dump big enough to split at a small maxPartitionBytes: 2000
    // single-row INSERT lines (~160 KB decompressed)
    val header =
      """CREATE TABLE `instance_extra` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `pci_requests` text
        |);
        |""".stripMargin
    val inserts = (1 to 2000).map(i =>
      s"INSERT INTO `instance_extra` VALUES ('instance-$i','[]');").mkString("\n")
    val gz = java.nio.file.Files.createTempFile("nova-split", ".sql.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write((header + inserts + "\n").getBytes("UTF-8")); out.close()

    val staged = DumpConvert.stageSplittable(spark, gz.toString)
    assert(!staged.endsWith(".gz"))

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      // the gzipped original is structurally one partition; the staged
      // copy splits
      val gzParts = spark.read.textFile(gz.toString).rdd.getNumPartitions
      val stagedParts = spark.read.textFile(staged).rdd.getNumPartitions
      assert(gzParts == 1, s"gz input expected 1 partition, got $gzParts")
      assert(stagedParts > 1,
        s"staged copy should split, got $stagedParts partition(s)")
      // and the INSERT lines parse identically through the staged path
      val dump = DumpConvert.tables(spark, gz.toString)
      try {
        val rows = dump("instance_extra")
        assert(rows.rdd.getNumPartitions > 1)
        assert(rows.count() == 2000)
      } finally dump.release()
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("the convert CLI rejects a wrong argument count with its usage line") {
    val e = intercept[IllegalArgumentException](DumpConvert.main(Array("only.sql")))
    assert(e.getMessage.startsWith("usage: graft.etl.DumpConvert"), e.getMessage)
  }

  test("directory dump path is rejected: single-file contract") {
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-dump-dir")
    java.nio.file.Files.writeString(dir.resolve("part1.sql"),
      "CREATE TABLE `instances` (\n  `uuid` varchar(36) NOT NULL\n);\n")
    val e = intercept[IllegalArgumentException](
      DumpConvert.tableColumns(spark, dir.toString))
    assert(e.getMessage.contains("single file"))
  }

  // full DDL for all three pipeline tables; per-table INSERT lines are
  // appended per controller below
  private val fullDdl =
    """CREATE TABLE `instances` (
      |  `uuid` varchar(36) NOT NULL,
      |  `hostname` varchar(255) DEFAULT NULL,
      |  `instance_type_id` int DEFAULT NULL,
      |  `memory_mb` int DEFAULT NULL,
      |  `vcpus` int DEFAULT NULL,
      |  `deleted_at` datetime DEFAULT NULL,
      |  `deleted` int DEFAULT NULL,
      |  `project_id` varchar(255) DEFAULT NULL
      |);
      |CREATE TABLE `instance_extra` (
      |  `instance_uuid` varchar(36) NOT NULL,
      |  `pci_requests` text
      |);
      |CREATE TABLE `instance_actions` (
      |  `instance_uuid` varchar(36) NOT NULL,
      |  `created_at` datetime DEFAULT NULL,
      |  `action` varchar(255) DEFAULT NULL,
      |  `message` varchar(255) DEFAULT NULL
      |);
      |""".stripMargin

  private def instInsert(uuid: String) =
    s"INSERT INTO `instances` VALUES ('$uuid','host1',1,8192,2,NULL,0,'projA');\n"
  private def extraInsert(uuid: String) =
    s"INSERT INTO `instance_extra` VALUES ('$uuid',NULL);\n"
  private def actionInserts(uuid: String) =
    s"INSERT INTO `instance_actions` VALUES ('$uuid','2024-01-01 00:00:00','create','')," +
      s"('$uuid','2024-01-01 10:00:00','delete','');\n"

  /** fetch.py's operational layout: dbs/<controller>/nova.sql[.gz] —
    * ctl-0's dump is TRUNCATED (instances has DDL but zero rows), ctl-1
    * is complete, ctl-2 (gzipped: staging inside dir mode is exercised)
    * has an alternate instance.
    */
  private def writeControllerFixture(): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-ctl-dumps")
    def put(ctl: String, body: String, gz: Boolean): Unit = {
      val d = root.resolve(ctl)
      java.nio.file.Files.createDirectories(d)
      if (gz) {
        val o = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(d.resolve("nova.sql.gz")))
        o.write(body.getBytes("UTF-8")); o.close()
      } else java.nio.file.Files.writeString(d.resolve("nova.sql"), body)
    }
    put("nerc-ctl-0",
      fullDdl + extraInsert("i1") + actionInserts("i1"), gz = false)
    put("nerc-ctl-1",
      fullDdl + instInsert("i1") + extraInsert("i1") + actionInserts("i1"), gz = false)
    put("nerc-ctl-2",
      fullDdl + instInsert("i2") + extraInsert("i2") + actionInserts("i2"), gz = true)
    root
  }

  test("multi-controller directory: per-table first-non-empty beats a truncated dump") {
    val spark = graft.SparkTestSession.spark
    val root = writeControllerFixture()
    val out = java.nio.file.Files.createTempDirectory("graft-ctl-first").toString
    DumpConvert.convert(spark, root.toString, out, "first")
    def uuids(t: String, c: String) = spark.read.parquet(s"$out/$t.parquet")
      .select(c).collect().map(_.getString(0)).toSeq.sorted
    // instances: ctl-0 parsed first but has zero rows → ctl-1 wins;
    // a wholesale first-controller rule would have blanked the table
    assert(uuids("instances", "uuid") == Seq("i1"))
    // extra/actions: ctl-0 has rows → ctl-0 wins, ctl-2's i2 never leaks
    assert(uuids("instance_extra", "instance_uuid") == Seq("i1"))
    assert(uuids("instance_actions", "instance_uuid") == Seq("i1", "i1"))
  }

  test("multi-controller directory: union concatenates every controller's rows") {
    val spark = graft.SparkTestSession.spark
    val root = writeControllerFixture()
    val out = java.nio.file.Files.createTempDirectory("graft-ctl-union").toString
    DumpConvert.convert(spark, root.toString, out, "union")
    def uuids(t: String, c: String) = spark.read.parquet(s"$out/$t.parquet")
      .select(c).collect().map(_.getString(0)).toSeq.sorted
    assert(uuids("instances", "uuid") == Seq("i1", "i2"))
    assert(uuids("instance_extra", "instance_uuid") == Seq("i1", "i1", "i2"))
    assert(uuids("instance_actions", "instance_uuid") ==
      Seq("i1", "i1", "i1", "i1", "i2", "i2"))
  }

  test("--dump-file over a 3-controller directory: CLI e2e, same invoice") {
    val spark = graft.SparkTestSession.spark
    val root = writeControllerFixture()
    val outDir = java.nio.file.Files.createTempDirectory("graft-ctl-csv").toString
    graft.Main.run(graft.Main.parseArgs(Seq(
      "--dump-file", root.toString, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)
    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    // the truncated ctl-0 instances table fell through to ctl-1: the
    // invoice matches the single-dump round-trip exactly
    assert(byCol("Project - Allocation") == "projA")
    assert(byCol("SU Hours (GBhr or SUhr)") == "20")
    assert(byCol("Cost") == "0.26")
  }

  test("randomized round-trip: mysqldump-escaped strings parse back exactly") {
    // independent encoder implementing mysqldump's escaping (the MySQL
    // string grammar); any value it emits must parse back verbatim
    def esc(s: String): String = "'" + s.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case '\u0000' => "\\0"
      case '\u001a' => "\\Z"
      case c => c.toString
    } + "'"
    val rnd = new scala.util.Random(42)
    val alphabet = "ab'\\\n\r\t,()# ; NULL09-."
    for (_ <- 1 to 300) {
      val vals = (1 to 1 + rnd.nextInt(4)).map { _ =>
        if (rnd.nextInt(8) == 0) None
        else Some((1 to rnd.nextInt(12)).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val sql = "INSERT INTO `t` VALUES (" +
        vals.map { case None => "NULL"; case Some(s) => esc(s) }.mkString(",") + ");"
      val parsed = DumpConvert.parseTuples(sql)
      assert(parsed == Seq(vals), s"round-trip failed for: $sql")
    }
  }

  test("--complete-insert form: explicit column lists realign to CREATE order") {
    val spark = graft.SparkTestSession.spark
    // columns listed in a DIFFERENT order than CREATE, and one CREATE
    // column (pci_requests) omitted from the list entirely → NULL
    val dump =
      """CREATE TABLE `instance_extra` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `pci_requests` text
        |);
        |INSERT INTO `instance_extra` (`pci_requests`, `instance_uuid`) VALUES ('[]','i1');
        |INSERT INTO `instance_extra` (`instance_uuid`) VALUES ('i2');
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-dump-ci", ".sql")
    java.nio.file.Files.writeString(f, dump)
    val loaded = DumpConvert.tables(spark, f.toString)
    val rows =
      try loaded("instance_extra").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      finally loaded.release()
    assert(rows == Set(("i1", Some("[]")), ("i2", None)))
  }

  test("CREATE TABLE with zero INSERTs yields an empty, correctly-typed table") {
    val spark = graft.SparkTestSession.spark
    val dump =
      """CREATE TABLE `instance_extra` (
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `pci_requests` text
        |);
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-dump-empty", ".sql")
    java.nio.file.Files.writeString(f, dump)
    val loaded = DumpConvert.tables(spark, f.toString)
    try {
      val df = loaded("instance_extra")
      assert(df.count() == 0)
      assert(df.schema.fieldNames.toSeq == Seq("instance_uuid", "pci_requests"))
    } finally loaded.release()
  }

  test("missing pipeline column in the dump fails loudly") {
    val spark = graft.SparkTestSession.spark
    val dump =
      """CREATE TABLE `instances` (
        |  `uuid` varchar(36) NOT NULL
        |);
        |INSERT INTO `instances` VALUES ('i1');
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-dump-bad", ".sql")
    java.nio.file.Files.writeString(f, dump)
    val e = intercept[IllegalArgumentException](
      DumpConvert.tables(spark, f.toString))
    assert(e.getMessage.contains("lacks columns"))
  }

  test("one parse: the staged text is read twice — the DDL pass and one INSERT pass") {
    val spark = graft.SparkTestSession.spark
    // all three tables, many INSERT lines, split into several partitions:
    // the read count must not grow with the tables or the splits
    val body = fullDdl + (1 to 300).map(i =>
      instInsert(s"i$i") + extraInsert(s"i$i") + actionInserts(s"i$i")).mkString
    val lines = body.count(_ == '\n')
    val gz = java.nio.file.Files.createTempFile("nova-one-scan", ".sql.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write(body.getBytes("UTF-8")); out.close()

    val records = new java.util.concurrent.atomic.AtomicLong
    val readingStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val n = Option(e.taskMetrics).fold(0L)(_.inputMetrics.recordsRead)
        if (n > 0) { records.addAndGet(n); readingStages.add(e.stageId) }
      }
    }
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val dump =
      try DumpConvert.tables(spark, gz.toString)
      finally {
        org.apache.spark.TestListenerBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      }
    try {
      assert(records.get == 2L * lines, s"records read ${records.get}, dump lines $lines")
      assert(readingStages.size == 2, s"stages reading the dump: $readingStages")
      assert(dump("instances").count() == 300)
      assert(dump("instance_extra").count() == 300)
      assert(dump("instance_actions").count() == 600)
    } finally dump.release()
  }

  test("same-second events bill in instance_actions.id order, not INSERT order") {
    val spark = graft.SparkTestSession.spark
    // ids 2 (stop) and 3 (start) share a second but are written 3 first:
    // id order leaves the VM running to the window end (744 h), INSERT
    // order would stop it after 10 h
    val dump = fullDdl.replace(
      "CREATE TABLE `instance_actions` (\n",
      "CREATE TABLE `instance_actions` (\n  `id` int NOT NULL AUTO_INCREMENT,\n") +
      instInsert("i1") + extraInsert("i1") +
      "INSERT INTO `instance_actions` VALUES (1,'i1','2024-01-01 00:00:00','create','')," +
      "(3,'i1','2024-01-01 10:00:00','start',''),(2,'i1','2024-01-01 10:00:00','stop','');\n"
    val f = java.nio.file.Files.createTempFile("graft-dump-ties", ".sql")
    java.nio.file.Files.writeString(f, dump)
    val outDir = java.nio.file.Files.createTempDirectory("graft-ties-csv").toString
    graft.Main.run(graft.Main.parseArgs(Seq(
      "--dump-file", f.toString, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)
    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("SU Hours (GBhr or SUhr)") == "1488") // 744 h × 2 SU
  }
}
