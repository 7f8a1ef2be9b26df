package perfbench

import java.nio.file.{Files, Paths}

/** Writes one seeded Nova month for a billing workload, in its own JVM so
  * the timed run starts cold:
  *
  *   Generate --seed N --out DIR --format tsv|dump --instances N
  *     --actions N --projects N --gpu-every N --deleted-frac F
  *     [--zipf ALPHA] --outages N [--include-stopped]
  *
  * DIR receives the input (`<table>.tsv` files or `nova.sql.gz`), the
  * expected invoice rows (`expected.csv`) and `meta.properties` (row
  * counts, outage intervals).
  */
object Generate {

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spec = NovaSpec(
      instances = a.int("instances"), actions = a.int("actions"),
      projects = a.int("projects"), gpuEvery = a.int("gpu-every"),
      deletedInWindowFrac = a("deleted-frac").toDouble,
      zipfAlpha = a.get("zipf").map(_.toDouble), outages = a.int("outages"),
      includeStopped = a.flag("include-stopped"))
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val month = new NovaMonth(spec, a("seed").toLong)
    val rates = NovaMonth.NercRates.copy(includeStoppedRuntime = spec.includeStopped)

    val meta = new java.util.Properties()
    a("format") match {
      case "dump" => month.writeDump(out.resolve("nova.sql.gz").toString)
      case "tsv" => month.writeTsv(out)
    }
    Files.write(out.resolve("expected.csv"),
      month.expectedRows(rates, NovaMonth.InvoiceMonth).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    meta.setProperty("instances", spec.instances.toString)
    meta.setProperty("actions", month.nEvents.toString)
    meta.setProperty("rows", (2L * spec.instances + month.nEvents).toString)
    meta.setProperty("include_stopped", spec.includeStopped.toString)
    meta.setProperty("outages",
      month.outages.map { case (s, e) => s"$s,$e" }.mkString(";"))
    val w = Files.newBufferedWriter(out.resolve("meta.properties"))
    try meta.store(w, null) finally w.close()
  }
}

/** `--key value` / `--flag` command lines. */
final case class Args(args: Array[String]) {
  private val kv: Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m += k -> args(i + 1); i += 2 }
      else { m += k -> "true"; i += 1 }
    }
    m.result()
  }
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def get(k: String): Option[String] = kv.get(k)
  def int(k: String): Int = apply(k).toInt
  def flag(k: String): Boolean = kv.get(k).contains("true")
}
