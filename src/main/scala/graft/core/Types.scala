package graft.core

/** Core value types of the billing engine.
  *
  * Mirrors the reference object model (see
  * /root/reference/src/openstack_billing_db/model.py:13-170) re-expressed as
  * immutable Scala case classes suitable for Spark `Encoder`s. All instants
  * are epoch **microseconds** (UTC) — Spark's native timestamp resolution —
  * so kernel arithmetic is exact integer math with no float drift.
  */
object Types {

  /** One row of an instance's action log (model.py:49-53). */
  final case class BillingEvent(timeUs: Long, name: String, message: String)

  /** Seconds-in-state totals, kept in microseconds (model.py:56-65).
    * Componentwise subtraction supports outage-interval exclusion
    * (billing.py:88-102).
    */
  final case class Runtime(runningUs: Long, stoppedUs: Long) {
    def -(other: Runtime): Runtime =
      Runtime(runningUs - other.runningUs, stoppedUs - other.stoppedUs)
    def +(other: Runtime): Runtime =
      Runtime(runningUs + other.runningUs, stoppedUs + other.stoppedUs)
  }
  object Runtime { val zero: Runtime = Runtime(0L, 0L) }

  /** Per-SU-type hourly rates (billing.py:19-35). Money is BigDecimal
    * end-to-end; rounding HALF_UP to cents happens only at the sink
    * (billing.py:202).
    */
  final case class Rates(
      cpu: BigDecimal,
      gpuA100: BigDecimal,
      gpuA100sxm4: BigDecimal,
      gpuV100: BigDecimal,
      gpuA2: BigDecimal,
      gpuK80: BigDecimal,
      includeStoppedRuntime: Boolean
  ) {
    def rateFor(suType: String): BigDecimal = suType match {
      case "cpu"          => cpu
      case "gpu_a100"     => gpuA100
      case "gpu_a100sxm4" => gpuA100sxm4
      case "gpu_v100"     => gpuV100
      case "gpu_a2"       => gpuA2
      case "gpu_k80"      => gpuK80
      case other => throw new IllegalArgumentException(s"Invalid flavor $other.")
    }
    def suNameFor(suType: String): String = suType match {
      case "cpu"          => "OpenStack CPU"
      case "gpu_a100"     => "OpenStack GPUA100"
      case "gpu_a100sxm4" => "OpenStack GPUA100SXM4"
      case "gpu_v100"     => "OpenStack GPUV100"
      case "gpu_a2"       => "OpenStack GPUA2"
      case "gpu_k80"      => "OpenStack GPUK80"
      case other => throw new IllegalArgumentException(s"Invalid flavor $other.")
    }
  }

  /** The six billable SU types, in the reference's unpivot order
    * (billing.py:189-196).
    */
  val SuTypes: Seq[String] =
    Seq("cpu", "gpu_a100sxm4", "gpu_a100", "gpu_v100", "gpu_k80", "gpu_a2")

  /** GPU alias names accepted by the pci_requests parser (model.py:203). */
  val ValidGpuAliases: Set[String] = Set("a100", "a100-sxm4", "v100", "k80")

  /** Convert a naive UTC timestamp to epoch micros. */
  def utcMicros(
      year: Int, month: Int, day: Int,
      hour: Int = 0, minute: Int = 0, second: Int = 0
  ): Long = {
    java.time.LocalDateTime
      .of(year, month, day, hour, minute, second)
      .toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000L
  }
}
