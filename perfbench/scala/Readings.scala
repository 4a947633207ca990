package perfbench

/** The benchmark's own seeded sensor-reading generator, independent of
  * `graft.sim.Generator` so that a change there cannot change these
  * inputs. Reading `i` is a pure function of `(seed, i)`: any range of
  * readings can be produced again for the batch twin of a check.
  *
  * Distributions follow the reference simulator (sensor_simulator.py):
  *   - 24 sensors: building A x floors 1-2 x rooms 100-103 x
  *     temperature/humidity/pressure; one sweep of all 24 every 3 s of
  *     event time, so reading `i` belongs to sweep `i / 24`;
  *   - a sinusoidal baseline per sensor with a per-sensor phase and target;
  *   - anomalies: temperature 0.1 % critical / 0.3 % warning, humidity the
  *     same, pressure 0.15 % / 0.35 %;
  *   - battery 0.1 % in 5-19, 0.2 % in 20-39, else 40-100; signal 0.2 % in
  *     -90..-76, 0.4 % in -75..-71, else -70..-40;
  *   - value rounded to 2 decimals, ISO timestamp without zone.
  */
final class Readings(seed: Long) extends Serializable {
  import Readings._

  /** SplitMix64 finalizer over (seed, i, salt): a uniform long. */
  private def mix(i: Long, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L +
      salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  private def u(i: Long, salt: Int): Double =
    (mix(i, salt) >>> 11) * (1.0 / (1L << 53))

  private def uniform(i: Long, salt: Int, lo: Double, hi: Double): Double =
    lo + u(i, salt) * (hi - lo)

  private def uniformInt(i: Long, salt: Int, lo: Int, hi: Int): Int =
    lo + (u(i, salt) * (hi - lo + 1)).toInt

  // Per-sensor phase and targets: draws keyed by the sensor index alone.
  private val phase = Array.tabulate(Sensors)(s => u(-1L - s, 1) * 2 * math.Pi)
  private val target = Array.tabulate(Sensors) { s =>
    Types(s % 3) match {
      case "temperature" => 20.0 + 5.0 * u(-1L - s, 2)
      case "humidity"    => 40.0 + 15.0 * u(-1L - s, 3)
      case _             => 1010.0 + 10.0 * u(-1L - s, 4)
    }
  }

  private def value(i: Long, sensor: Int, tSec: Double): Double = {
    val a = u(i, 5); val pick = u(i, 6)
    def base(amp: Double, periodSec: Double, noise: Double): Double =
      target(sensor) + math.sin(tSec / periodSec * 2 * math.Pi +
        phase(sensor)) * amp + uniform(i, 10, -noise, noise)
    Types(sensor % 3) match {
      case "temperature" =>
        if (a < 0.001) {
          if (pick < 0.7) uniform(i, 7, 30.1, 35.0) else uniform(i, 8, 10.0, 14.9)
        } else if (a < 0.004) uniform(i, 9, 27.1, 29.9)
        else base(1.0, 60.0, 0.5)
      case "humidity" =>
        if (a < 0.001) {
          if (pick < 0.5) uniform(i, 11, 15.0, 29.9) else uniform(i, 12, 70.1, 85.0)
        } else if (a < 0.004) {
          if (pick < 0.5) uniform(i, 13, 30.0, 34.9) else uniform(i, 14, 60.1, 69.9)
        } else base(2.0, 90.0, 1.0)
      case _ =>
        if (a < 0.0015) {
          if (pick < 0.5) uniform(i, 16, 950.0, 979.9) else uniform(i, 17, 1040.1, 1060.0)
        } else if (a < 0.005) {
          if (pick < 0.5) uniform(i, 18, 980.0, 994.9) else uniform(i, 19, 1030.1, 1039.9)
        } else base(1.5, 120.0, 0.5)
    }
  }

  /** Wire JSON of reading `i`, the reference producer's message shape. */
  def json(i: Long): String = {
    val sensor = (i % Sensors).toInt
    val sweep = i / Sensors
    val tSec = BaseEpochSec + SweepSec * sweep
    val floor = sensor / 12 + 1
    val room = sensor / 3 % 4 + 100
    val tpe = Types(sensor % 3)
    val v = math.round(value(i, sensor, tSec.toDouble) * 100) / 100.0
    val b = u(i, 21)
    val battery =
      if (b < 0.001) uniformInt(i, 22, 5, 19)
      else if (b < 0.003) uniformInt(i, 23, 20, 39)
      else uniformInt(i, 24, 40, 100)
    val s = u(i, 25)
    val signal =
      if (s < 0.002) uniformInt(i, 26, -90, -76)
      else if (s < 0.006) uniformInt(i, 27, -75, -71)
      else uniformInt(i, 28, -70, -40)
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"sensor_id\":\"A_").append(floor).append('_').append(room)
      .append('_').append(tpe).append("\",\"sensor_type\":\"").append(tpe)
      .append("\",\"location\":{\"building\":\"A\",\"floor\":").append(floor)
      .append(",\"room\":").append(room).append("},\"timestamp\":\"")
      .append(isoTimestamp(tSec)).append("\",\"value\":").append(v)
      .append(",\"unit\":\"").append(Units(sensor % 3))
      .append("\",\"metadata\":{\"battery_level\":").append(battery)
      .append(",\"signal_strength\":").append(signal).append("}}")
    sb.toString
  }

  def range(from: Long, until: Long): Array[String] =
    Array.tabulate((until - from).toInt)(k => json(from + k))
}

object Readings {
  val Sensors = 24
  val SweepSec = 3L
  val BaseEpochSec = 1767225600L // 2026-01-01T00:00:00Z
  val Types = Array("temperature", "humidity", "pressure")
  val Units = Array("celsius", "percent", "hPa")

  private val IsoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)

  def isoTimestamp(epochSec: Long): String =
    IsoFmt.format(java.time.Instant.ofEpochSecond(epochSec))

  /** Index of the sweep whose event time is `epochMs`. */
  def sweepOf(epochMs: Long): Long = (epochMs / 1000 - BaseEpochSec) / SweepSec
}
