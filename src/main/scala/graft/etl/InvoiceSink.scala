package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invoice shaping and the CSV sink contract
  * (/root/reference/src/openstack_billing_db/billing.py:159-224) plus the
  * S3 key templates (billing.py:244-293) as pure functions.
  */
object InvoiceSink {

  /** The fixed 16-column header (billing.py:167-186). */
  val CsvHeader: Seq[String] = Seq(
    "Invoice Month", "Report Start Time", "Report End Time",
    "Project - Allocation", "Project - Allocation ID", "Manager (PI)",
    "Cluster Name", "Invoice Email", "Invoice Address", "Institution",
    "Institution - Specific Code", "SU Hours (GBhr or SUhr)", "SU Type",
    "Rate", "Cost", "Generated At")

  /** Shape long invoices into the 16-column CSV rows (billing.py:188-224):
    * constant identity columns (pi/institution empty, billing.py:130-131;
    * institution code "N/A", billing.py:61), window bounds stamped UTC ISO
    * (billing.py:133-134), cost quantized to cents HALF_UP only here
    * (billing.py:202 — Spark `round` is HALF_UP; `bround` would be wrong).
    */
  def csvRows(
      longInvoices: DataFrame,
      invoiceMonth: String,
      startIso: String,
      endIso: String,
      generatedAtIso: String
  ): DataFrame =
    longInvoices.select(
      lit(invoiceMonth).as("Invoice Month"),
      lit(startIso).as("Report Start Time"),
      lit(endIso).as("Report End Time"),
      col("project_id").as("Project - Allocation"),
      col("project_id").as("Project - Allocation ID"),
      lit("").as("Manager (PI)"),
      lit("stack").as("Cluster Name"), // CLUSTER_NAME, billing.py:16
      lit("").as("Invoice Email"),
      lit("").as("Invoice Address"),
      lit("").as("Institution"),
      lit("N/A").as("Institution - Specific Code"),
      col("su_hours").as("SU Hours (GBhr or SUhr)"),
      col("su_name").as("SU Type"),
      col("rate_display").as("Rate"), // str(Decimal) scale parity (billing.py:213)
      round(col("cost"), 2).cast("decimal(38,2)").as("Cost"),
      lit(generatedAtIso).as("Generated At"))

  /** S6 — single-file CSV, delimiter ",", quote "|", minimal quoting
    * (billing.py:163-165). `coalesce(1)` is correct here: the invoice
    * output is O(projects × 6) rows regardless of input scale.
    */
  def writeCsv(rows: DataFrame, path: String): Unit =
    rows.coalesce(1).write
      .mode("overwrite")
      .option("header", "true")
      .option("quote", "|")
      .option("emptyValue", "")
      .csv(path)

  /** S7 — the three S3 destination keys (billing.py:267-291). The daily key
    * subtracts one second from the exclusive end to get the inclusive date
    * (billing.py:276-278).
    */
  def s3Keys(
      invoiceMonth: String,
      endUs: Long,
      nowUtc: java.time.Instant
  ): (String, String, String) = {
    val fmtDay = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)
    val fmtStamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
    val inclusiveEnd = java.time.Instant.ofEpochMilli((endUs - 1000000L) / 1000L)
    val primary =
      s"Invoices/$invoiceMonth/Service Invoices/NERC OpenStack $invoiceMonth.csv"
    val daily =
      s"Invoices/$invoiceMonth/Service Invoices/NERC OpenStack ${fmtDay.format(inclusiveEnd)}.csv"
    val archive =
      s"Invoices/$invoiceMonth/Archive/NERC OpenStack $invoiceMonth ${fmtStamp.format(nowUtc)}.csv"
    (primary, daily, archive)
  }

  /** S7 — the triple upload itself (billing.py:267-293): the SAME file
    * body goes to the primary key (skippable, billing.py:235
    * `upload_to_primary_location`), the daily key, and the archive key,
    * in that order. The transport is caller-supplied — an s3a
    * `FileSystem.create` loop, an S3 client, or a test capture — because
    * only the wire is environment-blocked here, not the sequencing.
    * Returns the keys written, in upload order.
    */
  def uploadInvoice(
      csvBytes: Array[Byte],
      invoiceMonth: String,
      endUs: Long,
      nowUtc: java.time.Instant,
      put: (String, Array[Byte]) => Unit,
      uploadToPrimary: Boolean = true
  ): Seq[String] = {
    val (primary, daily, archive) = s3Keys(invoiceMonth, endUs, nowUtc)
    val keys = (if (uploadToPrimary) Seq(primary) else Seq.empty) :+ daily :+ archive
    keys.foreach(put(_, csvBytes))
    keys
  }

  /** A Hadoop-FileSystem `put` for [[uploadInvoice]] — the same API over
    * `file://` fixtures and `s3a://` buckets (the `DumpFetch.fsListing`
    * pattern on the write side), which is what lets the triple upload run
    * end-to-end with zero network and unchanged against the real bucket
    * when credentials exist.
    */
  def fsPut(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (String, Array[Byte]) => Unit = {
    (key, bytes) =>
      val out = fs.create(new org.apache.hadoop.fs.Path(root, key), true)
      try out.write(bytes) finally out.close()
  }

  /** The single CSV file `writeCsv` produced (it coalesces to one part
    * file) as bytes — what `uploadInvoice` sends. Read through the
    * Hadoop FileSystem of `dir`, the one `writeCsv` wrote through, so a
    * `file://` or `s3a://` output dir reads back like a plain path.
    */
  def readCsvBytes(dir: String, conf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration()): Array[Byte] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val part = fs.listStatus(root).map(_.getPath).filter(_.getName.endsWith(".csv"))
    require(part.length == 1, s"expected exactly one CSV part in $dir, found ${part.length}")
    val in = fs.open(part(0))
    try in.readAllBytes() finally in.close()
  }

  /** F6 — default billing window (main.py:21-30): start = first of (today −
    * 1 day)'s month at midnight; end = today at midnight.
    */
  def defaultWindow(today: java.time.LocalDate): (java.time.LocalDateTime, java.time.LocalDateTime) = {
    val start = today.minusDays(1).withDayOfMonth(1).atStartOfDay()
    (start, today.atStartOfDay())
  }
}
