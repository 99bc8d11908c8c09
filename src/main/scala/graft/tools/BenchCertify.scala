package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: mint `bench_certificate.json` from a `graft.Bench` output
  * file (A21 — the reference's benchmark-certificate workflow: certify a
  * measured run, then validate later runs against it inside a tolerance
  * band and a validity window).
  *
  * Usage: `sbt "runMain graft.tools.BenchCertify bench_local_r<N>.json
  * bench_certificate.json [tolerancePct] [floorSec]"`; `tools/mint.sh`
  * runs it as the last step of a mint.
  *
  * The committed certificate is the perf-regression gate's baseline:
  * `BenchCertificateGateSpec` validates each round's committed local
  * medians against it, so a silent slowdown fails `sbt test` even when
  * the driver bench's numbers drown in host contention. Band defaults:
  * tolerance 25% + 0.5 s absolute floor. The floor absorbs the
  * sub-second-query jitter that forced rounds 6–12 to a pure 50%
  * relative band (on this co-tenant host a 0.4 s median routinely reads
  * 0.55 s with unchanged code); with it, the relative band tightens to
  * near the reference's ±20% discipline
  * (tests/simulation/benchmark/config/benchmark_config.json) where it
  * matters — every query above ~2 s. */
object BenchCertify {
  /** Parse a Bench JSON line's "queries" object: query name → seconds. */
  def parseBenchQueries(json: String): Map[String, Double] = {
    val qStart = json.indexOf("\"queries\":{")
    require(qStart >= 0, "not a graft.Bench output: no queries object")
    val qEnd = json.indexOf('}', qStart)
    json.substring(qStart + 11, qEnd).split(',').filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(':')
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.toDouble
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: BenchCertify <bench_local_r<N>.json> " +
        "<bench_certificate.json> [tolerancePct] [floorSec]")
      sys.exit(64)
    }
    val Array(benchPath, outPath) = args.take(2)
    val tolerance = args.lift(2).map(_.toDouble).getOrElse(25.0)
    val floorSec = args.lift(3).map(_.toDouble).getOrElse(0.5)
    val json = new String(Files.readAllBytes(Paths.get(benchPath)), "UTF-8")
    // The bench output's sf path, reduced to its basename: the
    // certificate's medians only adjudicate runs at the same data scale.
    val sf = {
      val i = json.indexOf(""""sf":"""")
      require(i >= 0, "not a graft.Bench output: no sf field")
      val raw = json.substring(i + 6, json.indexOf('"', i + 6))
      Paths.get(raw).getFileName.toString
    }
    val cert = BenchCertificate.create(System.currentTimeMillis(),
      parseBenchQueries(json), validDays = 90, tolerancePct = tolerance,
      sf = sf, floorSec = floorSec)
    BenchCertificate.write(Paths.get(outPath), cert)
    println(s"[certify] ${cert.queries.size} queries from $benchPath -> " +
      s"$outPath (sf $sf, tolerance ${tolerance}% + ${floorSec}s floor, " +
      s"valid ${cert.validDays} days)")
  }
}
