package perfbench

import graft.clean.Cleaner
import graft.dom.Node
import graft.extract._
import graft.hash.SimHash
import graft.meta.Metadata
import graft.out.Serializers
import graft.parse.HtmlParser

/** Kernel-phase layer: runs the extraction cascade on one thread by calling
  * the public phase functions in `Extraction.bareExtractionTree` order, and
  * charges wall time and allocated bytes to each phase. The chained result
  * must equal `Extraction.extractDoc` on the same page, so the phases timed
  * are the phases the kernel runs. */
object KernelTrace {

  val Phases: Seq[String] =
    Seq("parse", "meta", "clean", "convert", "content", "fallback", "serialize", "hash")

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Per-phase nanoseconds and bytes over a sweep, plus arbiter outcomes. */
  final class Sweep {
    val ns = new Array[Long](Phases.length)
    val bytes = new Array[Long](Phases.length)
    var docs = 0L
    var arbitrated = 0L
    var overridden = 0L
    var mismatches = 0L
  }

  private final class Clock(s: Sweep) {
    private var t = System.nanoTime()
    private var b = threads.getCurrentThreadAllocatedBytes
    /** Charge everything since the last lap to phase `i`. */
    def lap(i: Int): Unit = {
      val t2 = System.nanoTime()
      val b2 = threads.getCurrentThreadAllocatedBytes
      s.ns(i) += t2 - t; s.bytes(i) += b2 - b
      t = t2; b = b2
    }
  }

  private val TagRef = Set("ref")

  /** One document through the chained cascade (null when discarded). Mirrors
    * the `lang == null`, no-dedup, `maxTreeSize == 0` path of
    * `bareExtractionTree`, then `extractDoc`'s fingerprint. */
  def chained(html: String, o: ExtractorOptions, s: Sweep): ExtractedDoc = {
    val c = new Clock(s)
    KernelBudget.start(o.config.extractionTimeoutSec)
    try {
      val tree = HtmlParser.loadHtml(html)
      c.lap(0)
      if (tree == null) return null
      val meta = Metadata.extractMetadata(tree, null)
      c.lap(1)
      val backup1 = if (!o.fast) tree.deepCopy else null
      val backup2 = if (o.config.minExtractedSize > 0) tree.deepCopy else null
      var cleaned = Cleaner.treeCleaning(tree, o)
      val cleanedBackup = if (!o.fast) cleaned.deepCopy else null
      c.lap(2)
      cleaned = Cleaner.convertTags(cleaned, o, meta.url)
      c.lap(3)
      val (commentsBody, _, lenComments) =
        if (o.comments) ContentExtractor.extractComments(cleaned, o) else (null, "", 0)
      var (body, text, len) = ContentExtractor.extractContent(cleaned, o)
      c.lap(4)
      if (!o.fast) {
        val (b2, t2, l2) = Extraction.compareExtraction(cleanedBackup, backup1, body, text, len, o)
        s.arbitrated += 1
        if (!(b2 eq body)) s.overridden += 1
        body = b2; text = t2; len = l2
      }
      if (len < o.config.minExtractedSize) {
        val (b3, t3, l3) = Baseline.baseline(backup2)
        body = b3; text = t3; len = l3
      }
      c.lap(5)
      if (len < o.config.minOutputSize && lenComments < o.config.minOutputCommSize) return null
      def renderCopy(n: Node): Node =
        if (o.formatting || n.iterLazy(TagRef).hasNext) n.deepCopy else n
      val spans = Serializers.toSpans(body, commentsBody)
      val txt = Serializers.xmlToTxt(renderCopy(body), o.formatting)
      val comments =
        if (o.comments && commentsBody != null) Serializers.xmlToTxt(renderCopy(commentsBody), o.formatting)
        else null
      c.lap(6)
      val fp = SimHash.contentFingerprint(String.valueOf(meta.title) + " " + txt)
      c.lap(7)
      ExtractedDoc(spans, txt, comments, meta.copy(id = null, fingerprint = fp), len)
    } finally KernelBudget.clear()
  }

  /** Run `pages` through the chained cascade once, checking each result
    * against `Extraction.extractDoc` when `verify` is set. */
  def sweep(pages: Seq[String], o: ExtractorOptions, verify: Boolean): Sweep = {
    val s = new Sweep
    pages.foreach { html =>
      val got = try chained(html, o, s) catch {
        case _: StackOverflowError => null
        case scala.util.control.NonFatal(_) => null
      }
      s.docs += 1
      if (verify && got != Extraction.extractDoc(html, null, null, o)) s.mismatches += 1
    }
    s
  }

  /** Raw sweep values; run.py turns them into µs/doc and KB/doc. */
  def toJson(sweeps: Seq[Sweep]): Json.Obj = Json.Obj(
    "docs_per_sweep" -> sweeps.head.docs,
    "phases" -> Phases,
    "ns" -> sweeps.map(_.ns.toSeq),
    "bytes" -> sweeps.map(_.bytes.toSeq),
    "arbitrated" -> sweeps.head.arbitrated,
    "overridden" -> sweeps.head.overridden)
}
