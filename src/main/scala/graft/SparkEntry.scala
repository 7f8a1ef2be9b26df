package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Types.Rates
import graft.etl.{Billing, Enrich, InvoiceSink}
import graft.queries.{CoreOracles, CoreQueries, PipelineOracles, PipelineQueries}

/** The program's entry contract (SURVEY.md §7): the flagship billing
  * run, the query map with its oracle SQL, and the one runner that
  * produces a query into a sink.
  */
object SparkEntry {

  /** Flagship: the complete reference pipeline (EP1-EP3 of SURVEY.md §3)
    * over sf0.001, with the events table adapted into a nova-shaped action
    * log and a synthetic instances dimension derived from its users.
    * Exercises enrichment (R2/R3/F1-F3) → state machine (K1/K2) →
    * aggregation (A1-A3) → invoice rows (R7/F9/F10/S6 shape).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.etl.Ingest.table(spark, dir, "events")

    // events → instance_actions: signup creates, click starts, purchase
    // stops, view shelves; error rides the message=="Error" path.
    val actions = ev.select(
      concat(lit("vm-"), col("user_id")).as("instance_uuid"),
      col("ts").as("created_at"),
      when(col("event_type") === "signup", "create")
        .when(col("event_type") === "click", "start")
        .when(col("event_type") === "purchase", "stop")
        .when(col("event_type") === "view", "shelve")
        .otherwise(col("event_type")).as("action"),
      when(col("event_type") === "error", "Error").otherwise("").as("message"))

    // synthetic instances dimension: one VM per user; every 5th is a
    // 2×V100 GPU flavor via a pci_requests payload (F2/F3 path).
    val instances = ev.select(col("user_id")).distinct().select(
      concat(lit("vm-"), col("user_id")).as("uuid"),
      concat(lit("host-"), col("user_id")).as("hostname"),
      lit(1L).as("instance_type_id"),
      (pmod(col("user_id"), lit(8)) * 2048 + 2048).as("memory_mb"),
      (pmod(col("user_id"), lit(4)) + 1).cast("int").as("vcpus"),
      lit(null).cast("timestamp").as("deleted_at"),
      lit(0).as("deleted"),
      concat(lit("proj-"), pmod(col("user_id"), lit(3))).as("project_id"),
      col("user_id"))
    val extra = instances
      .filter(pmod(col("user_id"), lit(5)) === 0)
      .select(col("uuid").as("instance_uuid"),
        lit("""[{"count": "2", "alias_name": "V100"}]""").as("pci_requests"))

    val rates = Rates(
      cpu = BigDecimal("0.013"), gpuA100 = BigDecimal("1.803"),
      gpuA100sxm4 = BigDecimal("2.078"), gpuV100 = BigDecimal("1.214"),
      gpuA2 = BigDecimal("0.463"), gpuK80 = BigDecimal("0.463"),
      includeStoppedRuntime = false)

    val enriched = Enrich.enrichInstances(
      instances.drop("user_id"), extra, CoreQueries.WStart)
    val su = Billing.instanceSuHours(
      actions, enriched, rates, CoreQueries.WStart, CoreQueries.WEnd,
      CoreQueries.Outages)
    val invoices = Billing.projectInvoices(su, rates)
    InvoiceSink.csvRows(invoices, "2024-01",
      "2024-01-05T00:00:00+00:00", "2024-01-25T00:00:00+00:00",
      java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx")))
  }

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * LLM-data-pipeline operators (dedup, similarity, text analysis,
    * sessionization, multimodal plumbing). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ PipelineQueries.queries

  /** The queries a comma-separated name list selects (the
    * `SPARK_GRAFT_ONLY` variable), or all of them when the list is
    * unset. A name that is not a query, or a list that names none, is an
    * error: a typo must not pass for a fast, clean, empty run.
    */
  def selectQueries(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val all = queries
      val unknown = names.filterNot(all.contains)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, s"query list '$list' names no query")
      all.filter { case (k, _) => names(k) }
    }

  /** Builds query `name`'s frame, writes it to `sink` and returns the
    * wall seconds of both. A failure prints `[produce] <name> failed: …`
    * to stderr and returns -1, so it never reads as a fast run. Any
    * throwable is caught, a StackOverflowError from a deep plan
    * included: one query's failure must not end a many-query run.
    * After the query, untimed, the memo layer is held to its storage
    * budget ([[graft.ops.ModelCache.enforceBound]]).
    */
  def produce(name: String, build: => DataFrame, sink: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    try { sink(build); (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      // an overflow carries no message: its top frames name the recursion
      val at = e match {
        case _: StackOverflowError => e.getStackTrace.take(16).mkString(" at ", " < ", "")
        case _ => ""
      }
      System.err.println(s"[produce] $name failed: $e$at")
      -1.0
    }
    finally SparkSession.getActiveSession.foreach(graft.ops.ModelCache.enforceBound(_))
  }

  /** The sink that computes every row and column of a frame and keeps
    * nothing: the timed action of Bench and ScaleUp.
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreOracles.oracleSql ++ PipelineOracles.oracleSql
}
