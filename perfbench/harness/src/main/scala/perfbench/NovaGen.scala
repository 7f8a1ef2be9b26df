package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import graft.core.StateMachine
import graft.core.Types.{BillingEvent, Rates}

/** Size and shape of one generated Nova month. */
final case class NovaSpec(
    instances: Int,
    actions: Int,
    projects: Int,
    gpuEvery: Int,
    deletedInWindowFrac: Double,
    // Pareto tail index for per-VM event counts; None = uniform counts
    zipfAlpha: Option[Double],
    outages: Int,
    includeStopped: Boolean)

/** A seeded, Nova-shaped billing month: `instances`, `instance_extra` and
  * `instance_actions` rows, plus the expected invoice computed on the
  * driver by folding every instance's events through
  * [[graft.core.StateMachine.runtimeExcluding]] — an independent
  * computation that shares no code with the Spark plan it checks.
  *
  * Times are whole seconds (Nova's `datetime` columns), `instance_actions`
  * ids follow creation order like Nova's auto-increment key, and the log
  * carries deleted VMs, `Error` messages, unknown actions and same-second
  * ties whose order only the `id` column decides.
  */
final class NovaMonth(spec: NovaSpec, seed: Long) {
  import NovaMonth._

  private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

  private def hex(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.forDigit(rng.nextInt(16), 16)); i += 1 }
    sb.toString
  }

  val projectIds: Array[String] = Array.fill(spec.projects)(hex(32))

  private val n = spec.instances
  val uuid = new Array[String](n)
  val project = new Array[Int](n)
  val vcpus = new Array[Int](n)
  val memoryMb = new Array[Long](n)
  val gpuAlias = new Array[String](n) // null = CPU flavour
  val gpuCount = new Array[Int](n)
  val deletedAt = new Array[Long](n) // epoch seconds, NoTime = live
  val createdAt = new Array[Long](n)
  val instanceId = new Array[Int](n)

  private val aliases = graft.core.Types.ValidGpuAliases.toSeq.sorted.toArray
  private val cpuShapes = Array(1 -> 2048L, 2 -> 4096L, 2 -> 8192L, 4 -> 16384L,
    8 -> 16384L, 8 -> 65536L, 16 -> 32768L)

  for (i <- 0 until n) {
    uuid(i) = s"${hex(8)}-${hex(4)}-4${hex(3)}-a${hex(3)}-${hex(12)}"
    project(i) = rng.nextInt(spec.projects)
    val (c, m) = cpuShapes(rng.nextInt(cpuShapes.length))
    vcpus(i) = c; memoryMb(i) = m
    if (i % spec.gpuEvery == 0) {
      gpuAlias(i) = aliases(rng.nextInt(aliases.length))
      gpuCount(i) = 1 + rng.nextInt(4)
    }
    instanceId(i) = i + 1
    createdAt(i) = StartS - 40L * Day + (rng.nextDouble() * (WindowS + 39L * Day)).toLong
    val u = rng.nextDouble()
    deletedAt(i) =
      if (u < spec.deletedInWindowFrac)
        math.max(createdAt(i), StartS) + 1 +
          (rng.nextDouble() * (EndS - math.max(createdAt(i), StartS) - 1)).toLong
      else if (u < spec.deletedInWindowFrac + 0.02 && createdAt(i) < StartS - Day)
        createdAt(i) + (rng.nextDouble() * (StartS - createdAt(i))).toLong
      else NoTime
  }

  /** Event counts per VM: uniform around the mean, or a Pareto law whose
    * few long-lived VMs carry deep logs (the skewed dump).
    */
  private val counts: Array[Int] = {
    val mean = spec.actions.toDouble / n
    spec.zipfAlpha match {
      case None =>
        Array.fill(n)(1 + rng.nextInt(math.max(1, (2 * mean - 1).toInt)))
      case Some(alpha) =>
        val raw = Array.fill(n)(math.pow(1.0 - rng.nextDouble(), -1.0 / alpha))
        val scale = mean / (raw.sum / n)
        raw.map(r => math.max(1, math.min(spec.actions / 20, (r * scale).round.toInt)))
    }
  }

  val nEvents: Int = counts.sum
  val evInst = new Array[Int](nEvents)
  val evTs = new Array[Long](nEvents)
  val evAction = new Array[Byte](nEvents)
  val evError = new Array[Boolean](nEvents)

  locally {
    var k = 0
    for (i <- 0 until n) {
      val c = counts(i)
      val t0 = createdAt(i)
      val tEnd = if (deletedAt(i) != NoTime) deletedAt(i) else EndS + 3 * Day
      val span = math.max(1L, tEnd - t0)
      val ts = Array.fill(math.max(0, c - 1))(t0 + (rng.nextDouble() * span).toLong)
      java.util.Arrays.sort(ts)
      var prev = t0
      for (j <- 0 until c) {
        evInst(k) = i
        val t =
          if (j == 0) t0
          else if (j == c - 1 && deletedAt(i) != NoTime) math.max(prev, deletedAt(i))
          // same-second ties: the id column alone orders these
          else if (rng.nextDouble() < 0.05) prev
          else math.max(prev, ts(j - 1))
        evTs(k) = t
        evAction(k) =
          if (j == 0) ActCreate
          else if (j == c - 1 && deletedAt(i) != NoTime) ActDelete
          else pickAction(rng.nextDouble())
        evError(k) = j > 0 && evAction(k) != ActDelete && rng.nextDouble() < 0.03
        prev = t
        k += 1
      }
    }
  }

  /** Global id order = creation order (time, then generation order),
    * like Nova's auto-increment primary key.
    */
  val idOrder: Array[Int] = {
    val keys = Array.tabulate(nEvents)(k => ((evTs(k) - (StartS - 60L * Day)) << 32) | k.toLong)
    java.util.Arrays.sort(keys)
    keys.map(x => (x & 0xFFFFFFFFL).toInt)
  }
  val eventId: Array[Long] = {
    val ids = new Array[Long](nEvents)
    idOrder.zipWithIndex.foreach { case (k, r) => ids(k) = r + 1L }
    ids
  }

  /** Outage intervals: disjoint, inside the window, 1–12 h each. */
  val outages: Seq[(LocalDateTime, LocalDateTime)] = {
    val slot = WindowS / math.max(1, spec.outages)
    (0 until spec.outages).map { o =>
      val len = 3600L * (1 + rng.nextInt(12))
      val s = StartS + o * slot + (rng.nextDouble() * math.max(1L, slot - len)).toLong
      (ldt(s), ldt(s + len))
    }
  }

  def pciRequests(i: Int): String =
    if (gpuAlias(i) != null)
      s"""[{"count": ${gpuCount(i)}, "spec": [{"vendor_id": "10de"}], "alias_name": "${gpuAlias(i)}", "is_new": false, "numa_policy": null, "request_id": null, "requester_id": null}]"""
    else if (i % 3 == 0) null
    else "[]"

  def deleted(i: Int): Int = if (deletedAt(i) == NoTime) 0 else instanceId(i)

  /** The invoice the billing job must produce, as CSV rows without the
    * `Generated At` column, sorted. Folds each live instance's events
    * (ordered by time, then id) through the reference state machine,
    * rounds up to whole hours, multiplies by service units and prices in
    * exact decimals, HALF_UP to cents.
    */
  def expectedRows(rates: Rates, invoiceMonth: String): Seq[String] = {
    val perInst = Array.fill(n)(List.empty[Int])
    var r = idOrder.length - 1
    while (r >= 0) { val k = idOrder(r); perInst(evInst(k)) ::= k; r -= 1 }
    val startUs = StartS * 1000000L
    val endUs = EndS * 1000000L
    val excl = outages.map { case (s, e) => (us(s), us(e)) }
    val suHours = scala.collection.mutable.Map.empty[(String, String), Long]
    for (i <- 0 until n) {
      val live = deletedAt(i) == NoTime || deletedAt(i) > StartS
      if (live && perInst(i).nonEmpty) {
        val evs = perInst(i).map(k =>
          BillingEvent(evTs(k) * 1000000L, ActionNames(evAction(k)),
            if (evError(k)) "Error" else ""))
        val del = if (deletedAt(i) == NoTime) None else Some(deletedAt(i) * 1000000L)
        val rt = StateMachine.runtimeExcluding(evs, del, startUs, endUs, excl)
        val us = if (rates.includeStoppedRuntime) rt.runningUs + rt.stoppedUs else rt.runningUs
        val hours = math.ceil(us.toDouble / 1000000L / 3600.0).toLong
        if (hours > 0) {
          val suType = if (gpuAlias(i) == null) "cpu" else "gpu_" + gpuAlias(i).replace("-", "")
          val su =
            if (gpuCount(i) != 0) gpuCount(i).toLong
            else math.floor(math.max(vcpus(i).toDouble, memoryMb(i) / 4096.0)).toLong
          val key = (projectIds(project(i)), suType)
          suHours(key) = suHours.getOrElse(key, 0L) + hours * su
        }
      }
    }
    val startIso = iso(StartS)
    val endIso = iso(EndS)
    suHours.toSeq.map { case ((p, t), h) =>
      val cost = (rates.rateFor(t) * BigDecimal(h))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      Seq(invoiceMonth, startIso, endIso, p, p, "", "stack", "", "", "", "N/A",
        h.toString, rates.suNameFor(t), rates.rateFor(t).toString, cost.toString)
        .mkString(",")
    }.sorted
  }

  /** The three tables as tab-separated text (`\N` = NULL, times as
    * `yyyy-MM-dd HH:mm:ss` UTC), which the runner turns into the parquet
    * layout `Main --data-dir` reads.
    */
  def writeTsv(dir: Path): Unit = {
    def write(name: String, header: String, rows: Iterator[Seq[Any]]): Unit = {
      val out = Files.newBufferedWriter(dir.resolve(s"$name.tsv"), UTF_8)
      try {
        out.write(header); out.write('\n')
        rows.foreach { r =>
          out.write(r.map { case null => "\\N"; case v => v.toString }.mkString("\t"))
          out.write('\n')
        }
      } finally out.close()
    }
    def ts(s: Long): String = if (s == NoTime) null else sqlTime(s)
    write("instances",
      "uuid\thostname\tinstance_type_id\tmemory_mb\tvcpus\tdeleted_at\tdeleted\tproject_id",
      (0 until n).iterator.map(i => Seq(uuid(i), s"vm-$i", vcpus(i) * 10 + 1, memoryMb(i),
        vcpus(i), ts(deletedAt(i)), deleted(i), projectIds(project(i)))))
    write("instance_extra", "instance_uuid\tpci_requests",
      (0 until n).iterator.map(i => Seq(uuid(i), pciRequests(i))))
    write("instance_actions", "id\tinstance_uuid\tcreated_at\taction\tmessage",
      idOrder.iterator.map(k => Seq(eventId(k), uuid(evInst(k)), ts(evTs(k)),
        ActionNames(evAction(k)), if (evError(k)) "Error" else null)))
  }

  /** A gzipped mysqldump of the three tables with Nova's real column
    * lists (including `instance_actions.id`), extended INSERTs of
    * `rowsPerInsert` tuples, rows in primary-key order.
    */
  def writeDump(path: String, rowsPerInsert: Int = 2000): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(path), 1 << 16), UTF_8), 1 << 20)
    def q(s: String): String =
      if (s == null) "NULL"
      else "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\"", "\\\"") + "'"
    def dt(s: Long): String = if (s == NoTime) "NULL" else q(sqlTime(s))
    def table(name: String, cols: Seq[(String, String)], rows: Iterator[String]): Unit = {
      out.write(s"DROP TABLE IF EXISTS `$name`;\n")
      out.write(s"CREATE TABLE `$name` (\n")
      out.write(cols.map { case (c, t) => s"  `$c` $t" }.mkString(",\n"))
      out.write(",\n  PRIMARY KEY (`id`)\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;\n")
      out.write(s"LOCK TABLES `$name` WRITE;\n")
      rows.grouped(rowsPerInsert).foreach { g =>
        out.write(s"INSERT INTO `$name` VALUES ")
        out.write(g.mkString(","))
        out.write(";\n")
      }
      out.write("UNLOCK TABLES;\n")
    }
    out.write("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n-- Host: localhost    Database: nova\n")
    out.write("/*!40101 SET NAMES utf8mb4 */;\n")
    table("instances", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "id" -> "int NOT NULL AUTO_INCREMENT",
      "user_id" -> "varchar(255) DEFAULT NULL", "project_id" -> "varchar(255) DEFAULT NULL",
      "hostname" -> "varchar(255) DEFAULT NULL", "instance_type_id" -> "int DEFAULT NULL",
      "memory_mb" -> "int DEFAULT NULL", "vcpus" -> "int DEFAULT NULL",
      "vm_state" -> "varchar(255) DEFAULT NULL", "display_name" -> "varchar(255) DEFAULT NULL",
      "uuid" -> "varchar(36) NOT NULL", "deleted" -> "int DEFAULT NULL"),
      (0 until n).iterator.map { i =>
        Seq(dt(createdAt(i)), dt(createdAt(i)), dt(deletedAt(i)), instanceId(i).toString,
          q("u" + project(i)), q(projectIds(project(i))), q(s"vm-$i"),
          (vcpus(i) * 10 + 1).toString, memoryMb(i).toString, vcpus(i).toString,
          q(if (deletedAt(i) == NoTime) "active" else "deleted"),
          q(s"it's vm $i"), q(uuid(i)), deleted(i).toString).mkString("(", ",", ")")
      })
    table("instance_extra", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "deleted" -> "int DEFAULT NULL",
      "id" -> "int NOT NULL AUTO_INCREMENT", "instance_uuid" -> "varchar(36) NOT NULL",
      "numa_topology" -> "text", "pci_requests" -> "text", "flavor" -> "text"),
      (0 until n).iterator.map { i =>
        Seq(dt(createdAt(i)), "NULL", "NULL", "0", instanceId(i).toString, q(uuid(i)), "NULL",
          q(pciRequests(i)),
          q(s"""{"cur": {"nova_object.name": "Flavor", "vcpus": ${vcpus(i)}}}"""))
          .mkString("(", ",", ")")
      })
    table("instance_actions", Seq(
      "created_at" -> "datetime DEFAULT NULL", "updated_at" -> "datetime DEFAULT NULL",
      "deleted_at" -> "datetime DEFAULT NULL", "id" -> "int NOT NULL AUTO_INCREMENT",
      "action" -> "varchar(255) DEFAULT NULL", "instance_uuid" -> "varchar(36) DEFAULT NULL",
      "request_id" -> "varchar(255) DEFAULT NULL", "user_id" -> "varchar(255) DEFAULT NULL",
      "project_id" -> "varchar(255) DEFAULT NULL", "start_time" -> "datetime DEFAULT NULL",
      "finish_time" -> "datetime DEFAULT NULL", "message" -> "varchar(255) DEFAULT NULL",
      "deleted" -> "int DEFAULT NULL"),
      idOrder.iterator.map { k =>
        val i = evInst(k)
        Seq(dt(evTs(k)), "NULL", "NULL", eventId(k).toString, q(ActionNames(evAction(k))),
          q(uuid(i)), q("req-" + eventId(k)), q("u" + project(i)),
          q(projectIds(project(i))), dt(evTs(k)), dt(evTs(k)),
          if (evError(k)) q("Error") else "NULL", "0").mkString("(", ",", ")")
      })
    out.close()
  }
}

object NovaMonth {
  val Day: Long = 86400L
  val WindowStart: LocalDateTime = LocalDateTime.of(2024, 3, 1, 0, 0)
  val WindowEnd: LocalDateTime = LocalDateTime.of(2024, 4, 1, 0, 0)
  val InvoiceMonth = "2024-03"
  val StartS: Long = WindowStart.toEpochSecond(ZoneOffset.UTC)
  val EndS: Long = WindowEnd.toEpochSecond(ZoneOffset.UTC)
  val WindowS: Long = EndS - StartS
  val NoTime: Long = Long.MinValue

  val ActCreate: Byte = 0
  val ActDelete: Byte = 1
  // index = action code; the tail are Nova actions the billing state
  // machine ignores
  val ActionNames: Array[String] = Array("create", "delete", "stop", "start",
    "shelve", "unshelve", "reboot", "attach_volume", "migrate", "resize")
  private val weights = Array(0.0, 0.0, 0.2, 0.2, 0.07, 0.07, 0.18, 0.12, 0.08, 0.08)
  private val cumulative = weights.scanLeft(0.0)(_ + _).tail

  private def pickAction(u: Double): Byte = {
    var a = 2
    while (a < cumulative.length - 1 && u >= cumulative(a)) a += 1
    a.toByte
  }

  def ldt(s: Long): LocalDateTime = LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC)
  def us(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC) * 1000000L
  def sqlTime(s: Long): String =
    ldt(s).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  def iso(s: Long): String =
    ldt(s).atOffset(ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx"))

  /** NERC's published SU rates. */
  val NercRates: Rates = Rates(
    cpu = BigDecimal("0.013"), gpuA100 = BigDecimal("1.803"),
    gpuA100sxm4 = BigDecimal("2.078"), gpuV100 = BigDecimal("1.214"),
    gpuA2 = BigDecimal("0.463"), gpuK80 = BigDecimal("0.463"),
    includeStoppedRuntime = false)
}
