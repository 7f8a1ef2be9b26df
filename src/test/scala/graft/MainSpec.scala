package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI argument parsing parity (reference main.py:33-155). */
class MainSpec extends AnyFunSuite {

  test("time args accept date-only and full ISO forms") {
    assert(Main.parseTimeArg("2024-01-05") ==
      java.time.LocalDateTime.of(2024, 1, 5, 0, 0))
    assert(Main.parseTimeArg("2024-01-05T06:30:00") ==
      java.time.LocalDateTime.of(2024, 1, 5, 6, 30))
  }

  test("rates parse as exact decimals; flags and intervals accumulate") {
    val c = Main.parseArgs(Seq(
      "--data-dir", "/d", "--output-dir", "/o",
      "--rate-cpu-su", "0.013", "--rate-gpu-v100-su", "1.214",
      "--include-stopped-runtime",
      "--exclude-interval", "2024-01-10,2024-01-11",
      "--exclude-interval", "2024-01-20T06:00:00,2024-01-20T18:00:00"))
    assert(c.rates.cpu == BigDecimal("0.013"))
    assert(c.rates.cpu.toString == "0.013") // scale preserved for CSV display
    assert(c.rates.gpuV100 == BigDecimal("1.214"))
    assert(c.rates.includeStoppedRuntime)
    assert(c.excludeIntervals.size == 2)
    assert(c.excludeIntervals.head._1 == java.time.LocalDateTime.of(2024, 1, 10, 0, 0))
  }

  test("unknown arguments and missing required paths fail loudly") {
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--bogus", "x")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--data-dir", "/d")))
  }

  test("end-to-end CLI run: nova-shaped parquet in, 16-column invoice CSV out") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val HOUR = 3600L * 1000000L
    val start = graft.core.Types.utcMicros(2024, 1, 1)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)

    val dataDir = java.nio.file.Files.createTempDirectory("graft-cli-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cli-out").toString
    Seq(("i1", "host1", 1L, 8192L, 2, None: Option[java.sql.Timestamp], 0, "projA"))
      .toDF("uuid", "hostname", "instance_type_id", "memory_mb", "vcpus",
        "deleted_at", "deleted", "project_id")
      .write.mode("overwrite").parquet(s"$dataDir/instances.parquet")
    Seq(("i1", null: String))
      .toDF("instance_uuid", "pci_requests")
      .write.mode("overwrite").parquet(s"$dataDir/instance_extra.parquet")
    Seq(
      ("i1", ts(start), "create", ""),
      ("i1", ts(start + 10 * HOUR), "delete", ""))
      .toDF("instance_uuid", "created_at", "action", "message")
      .write.mode("overwrite").parquet(s"$dataDir/instance_actions.parquet")

    // run(cfg, session), not main(): main owns (and stops) its own session
    Main.run(Main.parseArgs(Seq(
      "--data-dir", dataDir, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)

    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(csv.length == 1)
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val header = lines.head.split(",", -1)
    assert(header.length == 16) // S6 header contract
    assert(lines.size == 2)     // header + projA row
    // compare by COLUMN, not substring (the month string "2024-01"
    // contains "20", which made a contains-based hours check vacuous)
    val byCol = header.zip(lines(1).split(",", -1)).toMap
    assert(byCol("Invoice Month") == "2024-01")
    assert(byCol("Project - Allocation") == "projA")
    assert(byCol("SU Hours (GBhr or SUhr)") == "20") // 10h × 2 SU
    assert(byCol("SU Type") == "OpenStack CPU")
    assert(byCol("Rate") == "0.013")
    assert(byCol("Cost") == "0.26") // 20 × 0.013, cents-rounded
  }

  test("--dump-file leaves no staged copy, parquet copy or persisted rows behind") {
    val spark = SparkTestSession.spark
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
        |  `id` int NOT NULL AUTO_INCREMENT,
        |  `instance_uuid` varchar(36) NOT NULL,
        |  `created_at` datetime DEFAULT NULL,
        |  `action` varchar(255) DEFAULT NULL,
        |  `message` varchar(255) DEFAULT NULL
        |);
        |INSERT INTO `instance_actions` VALUES (1,'i1','2024-01-01 00:00:00','create',''),(2,'i1','2024-01-01 10:00:00','delete','');
        |""".stripMargin
    val gz = java.nio.file.Files.createTempFile("nova-hygiene", ".sql.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    out.write(dump.getBytes("UTF-8")); out.close()
    val outDir = java.nio.file.Files.createTempDirectory("graft-hygiene-csv").toString

    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def leftovers(): Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(n => n.startsWith("graft-stage-") || n.startsWith("graft-dump-pq")).toSet
      finally s.close()
    }
    val before = leftovers()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Main.run(Main.parseArgs(Seq(
      "--dump-file", gz.toString, "--output-dir", outDir,
      "--start", "2024-01-01", "--end", "2024-02-01",
      "--invoice-month", "2024-01",
      "--rate-cpu-su", "0.013")), spark)
    assert(leftovers() -- before == Set.empty)
    // the shared session may hold other suites' persisted RDDs: the run
    // must add none
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- persistedBefore == Set.empty)
    val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    val lines = scala.io.Source.fromFile(csv(0)).getLines().toSeq
    val byCol = lines.head.split(",", -1).zip(lines(1).split(",", -1)).toMap
    assert(byCol("Cost") == "0.26")
  }
}
