package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.dedup.ExactSubstrings

/** Streaming exact-substring dedup — the continuous-ingestion form of
  * [[graft.dedup.ExactSubstrings]], for pipelines where documents arrive
  * forever and repeated spans must surface as they appear. Batch re-runs
  * over a growing corpus pay the full window-hash exchange every epoch;
  * the streaming form pays each window once.
  *
  * Keyed by the 60-bit window hash via `transformWithState` (RocksDB —
  * the window index IS the checkpoint). State per distinct hash is O(1):
  * the FIRST site (doc, pos) plus an occurrence count. Emission follows
  * the second-member-arrival rule the family's near-dup streams use:
  *
  *   - first occurrence of a hash: remembered, nothing emitted;
  *   - second occurrence: BOTH the retained first site and the new site
  *     emit (the first site is only now known to be duplicated);
  *   - third and later: the new site emits alone.
  *
  * So the accumulated output over ANY micro-batch split of a corpus is
  * exactly the batch [[ExactSubstrings.duplicatedWindows]] site set,
  * each site exactly once (spec'd, including the one-batch split).
  * Spans then come from the same batch merge
  * ([[ExactSubstrings.mergeSpans]]) over the accumulated sites — span
  * merging is deliberately NOT in-stream: a span is a per-document
  * aggregate that can grow as long as the document, while the per-hash
  * state here stays O(1) forever.
  *
  * Rows of a hash group stream through ONE AT A TIME — the group is
  * never materialized, so a pathological corpus that concentrates one
  * hash into one micro-batch (the repeated-token case the batch
  * operator's scaladoc calls out) costs O(1) heap here, like the batch
  * path's spill-safe WindowExec. No within-batch sort is needed for
  * determinism of the emitted set: whenever a batch leaves a group with
  * ≥ 2 total occurrences, EVERY site of the group emits (the retained
  * first site included), so which arrival is recorded as "first" is
  * observable only when the group still has exactly one occurrence —
  * and then there is no tie. Only the `seen` labels of same-batch
  * arrivals beyond the second reflect shuffle order; the accumulated
  * (id, pos) site set — the batch-parity contract — is order-invariant.
  */
object StreamingSubstrings {

  case class Doc(id: Long, text: String)

  /** One window site: `h` is the 60-bit hash of the k tokens at
    * `[pos, pos+k)` in doc `id`. */
  case class WindowSite(h: Long, id: Long, pos: Long)

  /** A site known to be duplicated: `seen` is how many sites of this
    * hash have been seen when it emitted (2 for the retained first site
    * and the site that exposed it, 3+ for later arrivals). */
  case class DupSite(id: Long, pos: Long, h: Long, seen: Long)

  /** Per-hash state: the first site and the running occurrence count. */
  case class FirstSite(id: Long, pos: Long, seen: Long)

  /** Expand docs to window sites in one partition pass (one
    * MessageDigest per partition — the family kernel). */
  def windowSites(docs: Dataset[Doc], k: Int): Dataset[WindowSite] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { d =>
        if (d.text == null) Iterator.empty
        else ExactSubstrings.windowHashesOf(d.text, k, md)
          .iterator.zipWithIndex
          .map { case (h, pos) => WindowSite(h, d.id, pos.toLong) }
      }
    }
  }

  class SubstrProcessor extends StatefulProcessor[Long, WindowSite, DupSite] {

    @transient private var first: ValueState[FirstSite] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      first = getHandle.getValueState("first_site",
        Encoders.product[FirstSite], TTLConfig.NONE)

    /** Streams the group: no `toArray`, no sort — a skewed hash whose
      * sites all land in one micro-batch passes through in O(1) heap
      * (see the object scaladoc for why no sort is needed). State is
      * updated per row, inside the lazily-consumed iterator, so the
      * store always reflects exactly the rows whose output was
      * produced — never a longer prefix than the framework drained. */
    override def handleInputRows(h: Long, rows: Iterator[WindowSite],
                                 timers: TimerValues): Iterator[DupSite] = {
      var st = if (first.exists()) first.get() else null
      rows.flatMap { s =>
        val out: List[DupSite] =
          if (st == null) { st = FirstSite(s.id, s.pos, 1L); Nil }
          else {
            val seen = st.seen + 1L
            val exposed =
              if (st.seen == 1L) DupSite(st.id, st.pos, h, seen) :: Nil
              else Nil
            st = st.copy(seen = seen)
            exposed :+ DupSite(s.id, s.pos, h, seen)
          }
        first.update(st)
        out
      }
    }
  }

  /** Duplicated window sites of a continuous document stream. Feed the
    * accumulated output to [[ExactSubstrings.mergeSpans]] for maximal
    * spans. */
  def duplicatedWindows(docs: Dataset[Doc], k: Int = 8): Dataset[DupSite] = {
    import docs.sparkSession.implicits._
    windowSites(docs, k)
      .groupByKey(_.h)
      .transformWithState(new SubstrProcessor, TimeMode.None(),
        OutputMode.Append())
  }
}
