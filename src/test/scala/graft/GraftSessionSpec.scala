package graft

import java.nio.file.{Files, Path}
import java.util.Locale
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import graft.ingest.TickIngest
import org.apache.spark.sql.functions._

/** Pins the engine's adaptive shuffle-partitioning contract
  * ([[GraftSession]]): shuffles plan at 8× cores and AQE coalesces by
  * MEASURED bytes — never below the core count while there are ≥64 KB
  * per core. This is the engine-default form of the round-12 same-phase
  * knob measurements (q91 sf100: 3.9×/2.1× wall, 8.4× GC, half the peak
  * task memory at 256 vs 32 pinned partitions): partition count grows
  * with data, as a cluster's would, instead of being pinned at launch.
  * Also pins the JVM case mapping and that a cold ingest never loads ICU.
  */
class GraftSessionSpec extends SparkSpecBase {

  test("adaptive coalescing is the engine default (no env knob in specs)") {
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.enabled") === "true")
    // spec session is local[4] -> shuffles plan at 8x4 = 32
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") === "32")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") === "64KB")
  }

  test("a multi-MB compute-dense shuffle keeps every core working") {
    // ~16 MB of md5 hex (incompressible, the compute-dense shape the
    // old coalescing-off comment worried about): target size =
    // min(64MB, max(total/4, 64KB)) ≈ 4 MB -> all 4 cores keep a
    // partition; coalescing must not serialize this.
    val big = spark.range(100000L).select(
      (col("id") % 50000L).as("k"),
      concat(md5(col("id").cast("string")),
        md5((col("id") + 1L).cast("string")),
        md5((col("id") + 2L).cast("string")),
        md5((col("id") + 3L).cast("string")),
        md5((col("id") + 4L).cast("string"))).as("payload"))
    val agg = big.groupBy(col("k")).agg(count(lit(1)).as("n"),
      max(col("payload")).as("p"))
    val parts = agg.rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"$parts partitions — adaptive coalescing serialized a ${16}MB shuffle")
    assert(parts < 32, s"$parts partitions — coalescing did not engage")
  }

  test("a tiny shuffle coalesces far below the planned 8x-cores count") {
    val out = spark.range(100L).groupBy((col("id") % 10L).as("k")).count()
    val parts = out.rdd.getNumPartitions
    assert(parts < spark.sparkContext.defaultParallelism,
      s"$parts partitions for ~KB of data — coalescing off?")
  }

  test("case mapping is the JVM's: ICU off, lower/upper equal String's on Unicode") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") === "false")
    // ASCII, Latin-1, 'ß' (uppercases to "SS"), Greek with a final sigma,
    // the Kelvin sign, a titlecase digraph and a ligature
    val fixture = Seq("MT5-Live", "ÄÖÜ straße", "ΟΔΟΣ σοφός", "\u212A", "ǅemal", "ﬁx")
    val out = fixture.toDF("s").select(lower($"s"), upper($"s"))
      .as[(String, String)].collect().toSeq
    assert(out === fixture.map(s => (s.toLowerCase(Locale.ROOT), s.toUpperCase(Locale.ROOT))))
  }

  test("a cold ingest never initializes ICU's case mapping (fresh JVM)") {
    val dir = Files.createTempDirectory("cold_ingest")
    try {
      val exportFile = dir.resolve("EURUSD_20260101_ticks.json")
      Files.writeString(exportFile, ColdIngestProbe.Export)
      // the build's --add-opens flags, as this JVM received them
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val addOpens = jvmArgs.zipWithIndex.flatMap {
        case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
        case (a, _) if a.startsWith("--add-opens=") => Seq(a)
        case _ => Nil
      }
      val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
      val log = dir.resolve("child.log").toFile
      val child = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ addOpens ++ Seq(
          "-cp", System.getProperty("java.class.path"),
          ColdIngestProbe.getClass.getName.stripSuffix("$"),
          exportFile.toString, dir.resolve("table").toString)).asJava)
        .redirectErrorStream(true).redirectOutput(log).start()
      assert(child.waitFor(300, TimeUnit.SECONDS), "the child JVM did not finish")
      val lines = Files.readAllLines(log.toPath).asScala
      val verdict = lines.filter(_.startsWith(ColdIngestProbe.Verdict))
      assert(child.exitValue() === 0 && verdict.nonEmpty,
        s"child failed:\n${lines.takeRight(30).mkString("\n")}")
      assert(verdict.last === s"${ColdIngestProbe.Verdict}true",
        s"${ColdIngestProbe.IcuClass} was initialized by the cold ingest")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}

/** Child-JVM body of GraftSessionSpec's cold-ingest test: one small
  * export through `loadExports` → `qualityReport(...).collect()` →
  * `writeTickTable` in a fresh session, then one line saying whether
  * ICU's case-mapping class is still uninitialized.
  *
  * Usage: `ColdIngestProbe <export.json> <tableDir>`. */
object ColdIngestProbe {
  val IcuClass = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"
  val Verdict = "icu-case-mapping-uninitialized="

  val Export: String =
    """{"metadata": {"symbol": "EURUSD", "broker_type": " MT5-Live ",
      |  "broker_utc_offset_hours": 2, "data_format_version": "1.3.0"},
      | "ticks": [
      |  {"timestamp": "2026.01.01 09:00:00", "time_msc": 1767258000000,
      |   "bid": 1.10, "ask": 1.11, "spread_pct": 0.9, "tick_flags": "BID ASK"},
      |  {"timestamp": "2026.01.01 09:00:01", "time_msc": 1767258001000,
      |   "bid": 1.12, "ask": 1.13, "spread_pct": 0.9, "tick_flags": "BID ASK"}
      | ]}""".stripMargin

  def main(args: Array[String]): Unit = {
    val Array(exportPath, table) = args
    val spark = GraftSession.local("2")
    try {
      val ticks = TickIngest.loadExports(spark, Seq(exportPath))
      TickIngest.qualityReport(ticks).collect()
      TickIngest.writeTickTable(ticks, table)
    } finally spark.stop()
    val cls = Class.forName(IcuClass, false, getClass.getClassLoader)
    // JDK 17 has no public "is this class initialized" query
    val unsafeClass = Class.forName("sun.misc.Unsafe")
    val field = unsafeClass.getDeclaredField("theUnsafe")
    field.setAccessible(true)
    println(Verdict + unsafeClass.getMethod("shouldBeInitialized", classOf[Class[_]])
      .invoke(field.get(null), cls))
  }
}
