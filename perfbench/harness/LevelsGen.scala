package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Seeded random streams: one independent generator per (seed, parts). */
object Rng {
  def apply(seed: Long, parts: Long*): scala.util.Random = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p =>
      h ^= p + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
    }
    new scala.util.Random(h)
  }
}

/** Generated CosmOz inputs: the raw_values, silo_data, intensity and
  * stations tables the levels chain reads, plus an hourly NMDB feed.
  * Values are seeded; the time grid is fixed.
  */
object LevelsGen {
  val T0: Long = java.time.Instant.parse("2023-01-01T00:00:00Z").toEpochMilli
  val HourMs = 3600000L
  val DayMs = 86400000L

  val sensorFields = Seq(
    "count", "pressure1", "internal_temperature", "internal_humidity",
    "battery", "tube_temperature", "tube_humidity", "rain",
    "vwc1", "vwc2", "vwc3", "pressure2",
    "external_temperature", "external_humidity")

  val rawSchema: StructType = StructType(
    Seq(StructField("site_no", IntegerType), StructField("time", TimestampType),
      StructField("count", IntegerType)) ++
      sensorFields.drop(1).map(f => StructField(f, DoubleType)) :+
      StructField("flag", IntegerType))

  val stationSchema: StructType = StructType(Seq(
    StructField("site_no", IntegerType)) ++
    Seq("beta", "ref_pressure", "ref_intensity", "elev_scaling",
      "latit_scaling", "n0_cal", "bulk_density", "lattice_water_g_g",
      "soil_organic_matter_g_g").map(StructField(_, DoubleType)) :+
    StructField("alternate_algorithm", StringType))

  val siloSchema: StructType = StructType(Seq(
    StructField("site_no", IntegerType), StructField("time", TimestampType),
    StructField("average_temperature", DoubleType),
    StructField("average_humidity", DoubleType)))

  val intensitySchema: StructType = StructType(Seq(
    StructField("site_no", IntegerType), StructField("time", TimestampType),
    StructField("intensity", DoubleType), StructField("bad_data_flag", IntegerType)))

  val feedSchema: StructType = StructType(Seq(
    StructField("site_no", IntegerType), StructField("time", TimestampType),
    StructField("intensity", DoubleType)))

  /** Planted fault counts of a generated raw table. */
  final case class Planted(rows: Int, jumps: Int, lowBattery: Int,
      corrupt: Int, nearDups: Int)

  private def r2(x: Double): Double = math.rint(x * 100) / 100

  /** Station s reports at a fixed minute past each hour, never on it. */
  def minuteOffset(site: Int): Int = 7 + (2 * site) % 50

  /** Hourly raw rows for `hours` hours from T0 with planted faults: count
    * jumps (flag 1), low battery (flag 4), corrupt rows (dropped), and
    * near-duplicates 10 minutes after their original (29-min dedup).
    */
  def raw(seed: Long, stations: Int, hours: Int): (Seq[Row], Planted) = {
    val rows = ArrayBuffer[Row]()
    var jumps, lowBattery, corrupt, nearDups = 0
    for (s <- 1 to stations) {
      val r = Rng(seed, 1, s)
      def g = r.nextGaussian()
      val off = minuteOffset(s) * 60000L
      for (h <- 0 until hours) {
        val t = T0 + h * HourMs + off
        val u = r.nextDouble()
        var count: Any = math.round(2000 * (1 + 0.02 * g)).toInt
        var battery: Any = r2(12.5 + 0.2 * g)
        val p1 = if (r.nextDouble() < 0.01) 0.0 else r2(1000 + 3 * g)
        val p2 = if (r.nextDouble() < 0.3 && p1 != 0.0) r2(p1 + 0.5) else 0.0
        val extZero = r.nextDouble() < 0.02
        val extT = if (extZero) 0.0 else r2(20 + 5 * g)
        val extH = if (extZero) 0.0 else r2(60 + 10 * g)
        val rain = if (r.nextDouble() < 0.1) r.nextInt(5).toDouble else 0.0
        val inner = Seq(r2(25 + 3 * g), r2(40 + 5 * g))
        val tube = Seq(r2(24 + 3 * g), r2(35 + 5 * g))
        val vwc = Seq(r2(0.2 + 0.05 * g), r2(0.2 + 0.05 * g), r2(0.2 + 0.05 * g))
        if (u < 0.004) { count = count.asInstanceOf[Int] * 3 / 2; jumps += 1 }
        else if (u < 0.007) { battery = 9.0; lowBattery += 1 }
        else if (u < 0.009) { count = null; battery = null; corrupt += 1 }
        def row(ts: Long) = Row.fromSeq(Seq[Any](s, new Timestamp(ts), count, p1) ++
          inner ++ Seq[Any](battery) ++ tube ++ Seq[Any](rain) ++ vwc ++
          Seq[Any](p2, extT, extH, 0))
        rows += row(t)
        if (u >= 0.009 && u < 0.014) { rows += row(t + 10 * 60000L); nearDups += 1 }
      }
    }
    (rows.toSeq, Planted(rows.size, jumps, lowBattery, corrupt, nearDups))
  }

  /** Stations on the default soil-moisture algorithm. */
  def stations(n: Int): Seq[Row] = (1 to n).map { s =>
    Row(s, 0.0077, 1000.0, 100.0, 1.0, 1.0, 3200.0, 1.4, 0.02, 0.01, null)
  }

  /** Three SILO rows a day; only the two before noon are candidates. */
  def silo(seed: Long, stations: Int, days: Int): Seq[Row] =
    for {
      s <- 1 to stations
      r = Rng(seed, 2, s)
      d <- 0 until days
      hr <- Seq(3, 9, 15)
    } yield Row(s, new Timestamp(T0 + d * DayMs + hr * HourMs),
      r2(20 + 5 * r.nextGaussian()), r2(55 + 10 * r.nextGaussian()))

  /** The neutron-monitor value of (site, hour index): a pure function of
    * the seed, so the feed and any stored copy agree.
    */
  def intensityAt(seed: Long, site: Int, hour: Int): Double =
    r2(100 * (1 + 0.01 * Rng(seed, 3, site, hour).nextGaussian()))

  def intensityRow(seed: Long, site: Int, hour: Int): Row =
    Row(site, new Timestamp(T0 + hour * HourMs), intensityAt(seed, site, hour), 0)

  def feedRow(seed: Long, site: Int, hour: Int): Row =
    Row(site, new Timestamp(T0 + hour * HourMs), intensityAt(seed, site, hour))
}
