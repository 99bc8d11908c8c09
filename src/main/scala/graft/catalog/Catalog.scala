package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog / coverage utilities (SURVEY §2.1 S8–S10, §2.8 F17).
  *
  * The reference maintains hand-built parquet file indexes with min/max
  * times and sampled stats (`tick_index_manager.py:62-226`). Under Spark
  * most of that job is native — partition pruning + parquet footer
  * min/max skipping — so what remains useful is a small DERIVED coverage
  * table for discovery UIs and availability checks (SURVEY §3.1 phases
  * 1–2), built as one distributed aggregation, and content-addressed
  * cache keys for derived tables (`discovery_cache.py:43-81`,
  * `config_fingerprint_utils.py`).
  */
object Catalog {

  /** Per-(keys…, file) coverage row: time bounds, row count, and sampled
    * quality stats — the Spark form of the tick index
    * (`tick_index_manager.py:285-331`, nested stats as real columns
    * instead of JSON strings). */
  def coverage(df: DataFrame, keys: Seq[String], tsMs: String,
               statCols: Seq[String] = Nil): DataFrame = {
    val statAggs = statCols.flatMap { c =>
      Seq(round(avg(col(c)), 6).as(s"avg_$c"),
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    val aggs = Seq(
      min(col(tsMs)).as("start_ms"),
      max(col(tsMs)).as("end_ms"),
      count(lit(1)).as("n_rows")) ++ statAggs
    df.withColumn("__file", input_file_name())
      .groupBy((keys.map(col) :+ col("__file").as("file")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Scenario-availability check (§3.1 phase 2): does [startMs, endMs]
    * fall inside the key's covered range? Returns per-key verdicts. */
  def availability(coverage: DataFrame, keys: Seq[String],
                   startMs: Long, endMs: Long): DataFrame =
    coverage.groupBy(keys.map(col): _*)
      .agg(min(col("start_ms")).as("data_start_ms"),
        max(col("end_ms")).as("data_end_ms"),
        sum(col("n_rows")).as("n_rows"))
      .withColumn("available",
        col("data_start_ms") <= startMs && col("data_end_ms") >= endMs)

  /** S3: snappy parquet write plus a key-value metadata manifest. The
    * reference embeds custom KV pairs in the parquet footer
    * (`tick_importer.py:380-411`); Spark's writer owns its footers, so the
    * lineage KV (source file, import version, tick counts…) lives in a
    * `_manifest.json` sidecar in the dataset directory — same contract
    * (open dataset → read its KV), and visible to any JSON reader.
    * Written through the path's Hadoop FileSystem, so it works on every
    * scheme the data write accepts. The sidecar is written to a temp name
    * and renamed into place with OVERWRITE semantics (`FileContext.rename`)
    * where the scheme provides an AbstractFileSystem — there a crash can
    * never leave a truncated or absent `_manifest.json` behind; readers
    * see either the previous complete manifest or the new complete one.
    * Schemes without FileContext support fall back to delete-then-rename,
    * which has a small crash window where NO manifest exists (readers then
    * see "no lineage recorded", never a truncated file). */
  def writeWithManifest(df: DataFrame, path: String,
                        meta: Map[String, String]): Unit = {
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    writeKvFile(df.sparkSession,
      new org.apache.hadoop.fs.Path(path, "_manifest.json").toString, meta)
  }

  /** Write a flat string-KV map as JSON to `path` (any Hadoop-FS scheme),
    * atomically where the scheme supports `FileContext.rename` with
    * OVERWRITE — readers then see either the previous complete file or
    * the new complete one, never a truncated or absent state. Schemes
    * without FileContext fall back to delete-then-rename (small crash
    * window where NO file exists; readers see "absent", never garbage).
    * The [[writeWithManifest]] mechanism, exposed for other sidecar
    * metadata (e.g. the Retrieval postings-segment manifest). */
  def writeKvFile(spark: SparkSession, path: String,
                  kv: Map[String, String]): Unit = {
    val json = kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${escape(k)}":"${escape(v)}"""" }
      .mkString("{", ",", "}")
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    try {
      // Atomic replace: rename with OVERWRITE never exposes a state with
      // no file (delete+rename does, between the two calls).
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(p, false) // non-atomic fallback: see scaladoc
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"kv-file rename failed: $tmp -> $p")
    }
  }

  /** Read back a [[writeKvFile]] map. MISSING file → None. A file that
    * exists but does not parse fails LOUDLY — corrupt must not be
    * indistinguishable from absent (the [[readManifest]] contract). */
  def readKvFile(spark: SparkSession, path: String): Option[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    readSmallFile(spark, p).map(parseKvAt(p, "kv file"))
  }

  /** Read back a [[writeWithManifest]] manifest as a flat KV map. Read
    * through the Hadoop FileSystem (Spark's readers treat `_`-prefixed
    * files as hidden, which is exactly why the sidecar is safe to live in
    * the dataset directory) and parsed with a flat-string-JSON scanner
    * matching the writer's format.
    *
    * MISSING manifest → `Map.empty` ("no lineage recorded"). A manifest
    * that exists but does not parse fails LOUDLY — a corrupt sidecar must
    * not be indistinguishable from an absent one. */
  def readManifest(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    readSmallFile(spark, p).map(parseKvAt(p, "manifest")).getOrElse(Map.empty)
  }

  /** The whole file at `p` (any Hadoop-FS scheme) as UTF-8; None when it
    * does not exist. */
  private def readSmallFile(spark: SparkSession,
                            p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      Some(new String(buf.toByteArray, "UTF-8"))
    } finally in.close()
  }

  /** [[parseFlatJson]] that fails loudly, naming the `what` at `p`. */
  private def parseKvAt(p: org.apache.hadoop.fs.Path, what: String)(
      json: String): Map[String, String] =
    try parseFlatJson(json)
    catch {
      case e: Exception => throw new java.io.IOException(
        s"malformed $what at $p (${json.length} bytes): ${e.getMessage}", e)
    }

  /** Minimal parser for the writer's own output: {"k":"v",...} with
    * backslash escapes inside strings. */
  private[catalog] def parseFlatJson(json: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def readString(): String = {
      val sb = new StringBuilder
      require(json(i) == '"'); i += 1
      while (json(i) != '"') {
        if (json(i) == '\\') {
          i += 1
          json(i) match {
            case 'u' => sb.append(Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar); i += 4
            case c => sb.append(c)
          }
        } else sb.append(json(i))
        i += 1
      }
      i += 1 // closing quote
      sb.toString
    }
    while (i < json.length && json(i) != '"') i += 1
    while (i < json.length && json(i) == '"') {
      val k = readString()
      require(json(i) == ':'); i += 1
      val v = readString()
      out(k) = v
      while (i < json.length && (json(i) == ',' || json(i) == ' ')) i += 1
      if (i < json.length && json(i) == '}') i = json.length
    }
    out.toMap
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Config fingerprint for derived-table cache identity (F17):
    * sha2(to_json(struct)) over sorted keys — stable across runs, so a
    * cache hit means "same config produced this table"
    * (`config_fingerprint_utils.py`; cache `discovery_cache.py:43-110`). */
  def configFingerprint(config: Map[String, String]): String = {
    val json = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Refresh-if-stale materialized derived table: recompute and rewrite
    * when the fingerprint file is missing or differs (mtime-free variant
    * of the reference's discovery cache — content identity only).
    *
    * The `_fingerprint` sidecar goes through the path's Hadoop
    * FileSystem (the [[writeWithManifest]] convention), not java.io —
    * a derived table cached on the cluster's store (HDFS/S3A) must
    * carry its identity next to its data, or every fresh driver would
    * silently rebuild (or worse, a local stale fingerprint would mask a
    * remote rebuild). The underscore prefix keeps it invisible to
    * Spark's readers, like `_manifest.json`. */
  def cachedDerived(spark: SparkSession, path: String,
                    config: Map[String, String])(compute: => DataFrame): DataFrame = {
    val fp = configFingerprint(config)
    val fpPath = new org.apache.hadoop.fs.Path(path, "_fingerprint")
    if (!readSmallFile(spark, fpPath).contains(fp)) {
      compute.write.mode("overwrite").parquet(path)
      val out = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(fpPath, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
    }
    spark.read.parquet(path)
  }
}
