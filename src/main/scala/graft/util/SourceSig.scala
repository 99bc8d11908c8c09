package graft.util

import org.apache.spark.sql.DataFrame

/** Shared content identity of a DataFrame's FILE-backed sources — the
  * invariant every plan-keyed memo in this codebase must enforce
  * ([[PlanMemo]], behind the dedup/similarity pair streams and the
  * Retrieval df/census memos; the postings-index manifest): Catalyst's
  * `sameResult` compares file scans by RELATION identity
  * (`InMemoryFileIndex` equality is rootPaths-based), so a
  * re-read of the same path after an in-place append/overwrite
  * sameResult-matches a plan captured over DIFFERENT bytes — plan
  * identity is not data identity for file sources. A memo keyed on a
  * plan must therefore also compare [[contentSig]] on every hit and
  * invalidate on mismatch.
  *
  * Lifted out of `Retrieval` (round 17) so the pair-stream memos share
  * one implementation instead of re-deriving the rule — the round-16
  * fix landed in Retrieval's two memos only, leaving the other two
  * `sameResult`-keyed caches serving stale pairs after an in-place
  * corpus change (exactly the shape `StreamingIndex` makes routine).
  */
object SourceSig {

  /** One source file's listing identity. `mtime` is the store's
    * modification time in ms. */
  final case class SourceFile(path: String, len: Long, mtime: Long)

  /** Number of filesystem metadata RPCs [[fileListing]] has issued in
    * this JVM (one `listStatus` per parent directory on the batched
    * path, one `getFileStatus` per file on the small-subset / null-
    * parent fallback) — the spec's accounting hook for the batched-
    * listing contract: at the 100 TB design point a corpus is 10⁵–10⁶
    * files and a per-file RPC loop made the listing itself the
    * append-path bottleneck. */
  val listingCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Below this many selected files in one parent directory, stat them
    * individually instead of listing the whole directory: a pruned scan
    * selecting 1–2 files from a shared directory of 10⁵ siblings would
    * otherwise pay a full `listStatus` of the directory for two
    * entries. */
  val SmallSubsetFiles: Int = 2

  /** Above this many distinct parent directories the per-directory
    * listing loop runs as a Spark job over the parents (the
    * `InMemoryFileIndex` parallel-partition-discovery contract, default
    * threshold 32 like Spark's) instead of a sequential driver loop: at
    * the 10⁵-directory design point a one-RPC-per-directory driver loop
    * is minutes of serial metadata latency, and the r17 memo contentSig
    * put this listing on every cached-pair call. */
  val parallelListingDirs: Int = 32

  /** Number of distributed listing JOBS issued (accounting hook for the
    * parallel path, as [[listingCalls]] is for the RPCs). */
  val parallelListings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Sorted (path, length, mtime) listing of a DataFrame's file-backed
    * sources — an FS metadata listing, no data pass; ONE `listStatus`
    * per distinct parent directory (see [[listingCalls]]), except that a
    * parent contributing ≤ [[SmallSubsetFiles]] files (or a file with no
    * parent — the filesystem root, whose `getParent` is null) is stated
    * per-file. Past [[parallelListingDirs]] distinct parents the
    * per-parent RPCs run as one Spark job over the parent list (r18 —
    * the listing count is unchanged, the latency stops being serial
    * driver work). Empty for in-memory sources. A source file that
    * vanished between the scan's own listing and this call fails
    * loudly. */
  def fileListing(docs: DataFrame): Seq[SourceFile] = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    val files = docs.inputFiles.toSeq
    if (files.isEmpty) Nil
    else {
      val byParent: Seq[(Option[String], Seq[String])] = files
        .groupBy(f => Option(new org.apache.hadoop.fs.Path(f).getParent)
          .map(_.toString))
        .toSeq
      // RPC accounting is identical on both paths: one getFileStatus per
      // small-subset/rootless file, one listStatus per listed parent.
      listingCalls.addAndGet(byParent.map {
        case (None, children) => children.size.toLong
        case (Some(_), children) =>
          if (children.size <= SmallSubsetFiles) children.size.toLong else 1L
      }.sum)
      val statuses: Map[String, (Long, Long)] =
        if (byParent.size > parallelListingDirs) {
          parallelListings.incrementAndGet()
          val sc = docs.sparkSession.sparkContext
          val serConf = org.apache.spark.graftbridge.SerializableConf(conf)
          val slices = math.min(byParent.size, sc.defaultParallelism * 4)
          sc.parallelize(byParent, slices)
            .flatMap { case (parent, children) =>
              listGroup(parent, children, serConf.value) }
            .collect().toMap
        } else byParent.iterator
          .flatMap { case (parent, children) =>
            listGroup(parent, children, conf) }
          .toMap
      files.sorted.map { f =>
        val (len, mtime) = statuses.getOrElse(f,
          throw new java.io.FileNotFoundException(
            s"source file vanished between scan listing and sig listing: $f"))
        SourceFile(f, len, mtime)
      }
    }
  }

  /** One parent group's statuses — shared by the sequential and the
    * distributed listing paths so both return byte-identical results. */
  private def listGroup(parent: Option[String], children: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, (Long, Long))] = {
    def statOne(f: String): (String, (Long, Long)) = {
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      f -> (st.getLen, st.getModificationTime)
    }
    parent match {
      case None => children.map(statOne)
      case Some(_) if children.size <= SmallSubsetFiles =>
        children.map(statOne)
      case Some(parentStr) =>
        // keyed by file NAME within this parent: callers keep the
        // scan's own path string (listStatus may render the scheme
        // differently, e.g. file:/ vs file:///)
        val parentPath = new org.apache.hadoop.fs.Path(parentStr)
        val byName = children.map(f =>
          new org.apache.hadoop.fs.Path(f).getName -> f).toMap
        parentPath.getFileSystem(conf).listStatus(parentPath).toSeq
          .flatMap { st =>
            byName.get(st.getPath.getName)
              .map(f => f -> (st.getLen, st.getModificationTime))
          }
    }
  }

  /** Content signature of a DataFrame's file-backed sources: an md5 of
    * the [[fileListing]] (so the file COUNT, every path, every length,
    * and every mtime all participate). A full 128-bit digest, not
    * `Seq.hashCode` (a ~2⁻³² listing collision would silently serve the
    * stale entry the signature exists to catch). Empty string for
    * in-memory sources, whose data IS part of the plan.
    *
    * Residual hazard — mtime granularity: the signature fingerprints
    * (path, len, mtime) only, so an in-place OVERWRITE that preserves
    * the file count and every file's length within the store's mtime
    * granularity (1 s on HDFS and several local filesystems, coarser on
    * some object stores) is invisible. Appends and any length-changing
    * rewrite are always caught; a same-length sub-granularity rewrite is
    * the one shape that is not. Callers for whom that shape is real
    * should version the data path instead of rewriting in place (the
    * `sourceTag` contract in `Retrieval.buildPostingsIndex`). */
  def contentSig(df: DataFrame): String = {
    val files = fileListing(df)
    if (files.isEmpty) ""
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      // NUL-separated fields: POSIX paths cannot contain NUL, so the
      // digest input parses unambiguously (a visible separator could
      // appear inside a path and alias a neighbouring field)
      val sep = Array[Byte](0)
      files.foreach { f =>
        md.update(f.path.getBytes("UTF-8")); md.update(sep)
        md.update(f.len.toString.getBytes("UTF-8")); md.update(sep)
        md.update(f.mtime.toString.getBytes("UTF-8")); md.update(sep)
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }
}
