package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDate

/** Key-selection rules of the dump-fetch path (reference fetch.py:11-95),
  * asserted against fixture listings — no network.
  */
class DumpFetchSpec extends AnyFunSuite {
  val d = LocalDate.of(2024, 2, 2)

  test("daily prefix template and fallback order") {
    assert(DumpFetch.dumpPrefix("nerc-ctl-0", d) == "dbs/nerc-ctl-0/nova-20240202")
    assert(DumpFetch.candidatePrefixes(d) == Seq(
      "dbs/nerc-ctl-0/nova-20240202",
      "dbs/nerc-ctl-1/nova-20240202",
      "dbs/nerc-ctl-2/nova-20240202"))
  }

  test("first object of the first non-empty controller listing wins") {
    // ctl-0 empty → fall through to ctl-1; its lexicographically-first
    // key is selected even when the listing arrives unsorted
    val listings = Map(
      "dbs/nerc-ctl-1/nova-20240202" -> Seq(
        "dbs/nerc-ctl-1/nova-20240202120000.sql.gz",
        "dbs/nerc-ctl-1/nova-20240202000002.sql.gz"),
      "dbs/nerc-ctl-2/nova-20240202" -> Seq(
        "dbs/nerc-ctl-2/nova-20240202000001.sql.gz"))
    val key = DumpFetch.selectDumpKey(d, p => listings.getOrElse(p, Seq.empty))
    assert(key.contains("dbs/nerc-ctl-1/nova-20240202000002.sql.gz"))
  }

  test("no dump on any controller → None") {
    assert(DumpFetch.selectDumpKey(d, _ => Seq.empty).isEmpty)
  }

  val novaDump =
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

  private def writeGz(path: java.nio.file.Path, content: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(path))
    out.write(content.getBytes("UTF-8")); out.close()
  }

  test("fetch e2e over file://: listing → selection → convert → same invoice as --dump-file") {
    val spark = graft.SparkTestSession.spark
    val bucket = java.nio.file.Files.createTempDirectory("graft-fetch-bucket")
    // ctl-0 has a dump for ANOTHER date only (its 2024-01-01 listing is
    // empty → fallback); ctl-1 holds the real dump plus a later same-day
    // dump (first-object rule must pick the earlier key); ctl-2 holds a
    // decoy that must never be reached
    writeGz(bucket.resolve("dbs/nerc-ctl-0/nova-20231231000001.sql.gz"),
      "CREATE TABLE `instances` (\n  `uuid` varchar(36) NOT NULL\n);\n")
    writeGz(bucket.resolve("dbs/nerc-ctl-1/nova-20240101000002.sql.gz"), novaDump)
    writeGz(bucket.resolve("dbs/nerc-ctl-1/nova-20240101120000.sql.gz"),
      novaDump.replace("projA", "projWRONG"))
    writeGz(bucket.resolve("dbs/nerc-ctl-2/nova-20240101000001.sql.gz"),
      novaDump.replace("projA", "projDECOY"))

    // selection alone, through the same Hadoop listing run() uses
    val root = new org.apache.hadoop.fs.Path(bucket.toString)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val key = DumpFetch.selectDumpKey(
      LocalDate.of(2024, 1, 1), DumpFetch.fsListing(fs, root))
    assert(key.contains("dbs/nerc-ctl-1/nova-20240101000002.sql.gz"))

    def invoice(args: Seq[String]): Seq[String] = {
      val outDir = java.nio.file.Files.createTempDirectory("graft-fetch-csv").toString
      graft.Main.run(graft.Main.parseArgs(args ++ Seq(
        "--output-dir", outDir,
        "--start", "2024-01-01", "--end", "2024-02-01",
        "--invoice-month", "2024-01",
        "--rate-cpu-su", "0.013")), spark)
      val csv = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
        .toArray.map(_.toString).filter(_.endsWith(".csv"))
      assert(csv.length == 1)
      // drop the trailing Generated At column (wall-clock) before comparing
      scala.io.Source.fromFile(csv(0)).getLines().toSeq
        .map(_.split(",", -1).init.mkString(","))
    }

    val viaFetch = invoice(Seq(
      "--fetch-dump", bucket.toString, "--fetch-date", "2024-01-01"))
    val viaDumpFile = invoice(Seq(
      "--dump-file", bucket.resolve(
        "dbs/nerc-ctl-1/nova-20240101000002.sql.gz").toString))
    assert(viaFetch == viaDumpFile)
    assert(viaFetch.exists(_.contains("projA")))
    assert(!viaFetch.mkString.contains("projWRONG"))
    assert(!viaFetch.mkString.contains("projDECOY"))
  }

  test("fetch with no dump for the date fails loudly like the reference") {
    val spark = graft.SparkTestSession.spark
    val bucket = java.nio.file.Files.createTempDirectory("graft-fetch-empty")
    val outDir = java.nio.file.Files.createTempDirectory("graft-fetch-ecsv").toString
    val e = intercept[IllegalStateException] {
      graft.Main.run(graft.Main.parseArgs(Seq(
        "--fetch-dump", bucket.toString, "--fetch-date", "2024-01-01",
        "--output-dir", outDir, "--rate-cpu-su", "0.013")), spark)
    }
    assert(e.getMessage == "No database dumps found for 20240101")
  }
}
