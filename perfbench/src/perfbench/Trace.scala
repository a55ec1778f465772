package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.{DocRow, ExtractedDoc, Span}
import graft.engine.{Extractor, SpanSink}
import graft.mime.{MediaTypes, MimeRegistry}
import graft.zipx.OpcDetector

/** One timed call: a layer name, its interval, the span that caused it and
  * the document it served.
  */
final case class SpanRec(id: Long, parent: Long, name: String,
    start: Long, end: Long, doc: String) {
  def ns: Long = end - start
}

/** Counts gathered next to the spans: work done by each layer. */
final class Counts {
  val c = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  def add(k: String, n: Long): Unit = c(k) += n
  def merge(o: Counts): Unit = o.c.foreach { case (k, v) => c(k) += v }
}

/** The traced document pass. Each document's work is split into calls to
  * the modules' public functions, timed from here:
  *  - `engine.decode`: `Extractor.payloadBytes` per payload span;
  *  - `mime.detect`, `zipx.detect`, `ole2.detect`: `MimeRegistry.detect`,
  *    then `OpcDetector.specialize` or `Ole2Detector.specialize` where the
  *    extractor would call them;
  *  - `parse.<route>`: `Extractor.extract` on the whole row (the route is
  *    the output's top-level type); its self time is its duration minus
  *    the decode and detect time measured on the same document;
  *  - `engine.sink`: the output spans replayed through `SpanSink`'s
  *    public calls.
  * Spans are kept in memory (tasks run in this JVM) and written out when
  * the run ends.
  */
object Trace {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Array[SpanRec]]()
  val counts = new Counts

  def clear(): Unit = { spans.clear(); counts.c.clear() }
  def nextId(): Long = ids.getAndIncrement()
  def all: Vector[SpanRec] = spans.asScala.iterator.flatMap(_.iterator).toVector

  val Routes: Seq[String] = Seq("html", "pdf", "ooxml", "zip", "other")

  def routeOf(mime: String): String =
    if (mime == MediaTypes.Html) "html"
    else if (mime == MediaTypes.Pdf) "pdf"
    else if (mime == MediaTypes.Zip) "zip"
    else if (mime.startsWith("application/vnd.openxmlformats-officedocument.") ||
        mime == MediaTypes.TikaOoxml) "ooxml"
    else "other"

  private def isCfb(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0xd0 && (b(1) & 0xff) == 0xcf &&
      (b(2) & 0xff) == 0x11 && (b(3) & 0xff) == 0xe0

  /** Extracts every row of one partition, recording spans and counts. */
  def partition(rows: Iterator[DocRow], parent: Long): Iterator[ExtractedDoc] = {
    val buf = new ArrayBuffer[SpanRec]()
    val cnt = new Counts
    val out = rows.map(r => doc(r, parent, buf, cnt)).toVector
    spans.add(buf.toArray)
    counts.synchronized(counts.merge(cnt))
    out.iterator
  }

  private def doc(row: DocRow, parent: Long, buf: ArrayBuffer[SpanRec],
      cnt: Counts): ExtractedDoc = {
    val id = row.doc_id
    val docSpan = nextId()
    val t0 = System.nanoTime()
    row.spans.sortBy(_.offset).foreach { s =>
      if (s.kind != Span.KindMedia) {
        val a = System.nanoTime()
        val bytes = Extractor.payloadBytes(s)
        val b = System.nanoTime()
        buf += SpanRec(nextId(), docSpan, "engine.decode", a, b, id)
        cnt.add("engine.decode.bytes_out", bytes.length)
        if (bytes.nonEmpty) {
          val m0 = MimeRegistry.detect(bytes, Option(id))
          val c = System.nanoTime()
          buf += SpanRec(nextId(), docSpan, "mime.detect", b, c, id)
          cnt.add("mime.detect.calls", 1)
          val probe =
            if (m0 == MediaTypes.Zip || m0 == MediaTypes.TikaOoxml) {
              try OpcDetector.specialize(bytes, Option(id))
              catch { case _: Exception => m0 }
              "zipx.detect"
            } else if (m0 == MediaTypes.TikaMsOffice || isCfb(bytes)) {
              try graft.ole2.Ole2Detector.specialize(bytes)
              catch { case _: Exception => m0 }
              "ole2.detect"
            } else null
          if (probe != null) {
            buf += SpanRec(nextId(), docSpan, probe, c, System.nanoTime(), id)
            cnt.add(probe + ".calls", 1)
          }
        }
      }
    }
    val e0 = System.nanoTime()
    val d = Extractor.extract(row)
    val e1 = System.nanoTime()
    val route = routeOf(d.mime)
    buf += SpanRec(nextId(), docSpan, "parse." + route, e0, e1, id)
    cnt.add(s"parse.$route.docs", 1)
    cnt.add(s"parse.$route.chars_out", d.n_chars)
    cnt.add(s"parse.$route.embedded", d.spans.count(_.kind == Span.KindEmbeddedOpen))
    val s0 = System.nanoTime()
    replay(d.spans)
    val s1 = System.nanoTime()
    buf += SpanRec(nextId(), docSpan, "engine.sink", s0, s1, id)
    cnt.add("engine.sink.spans", d.spans.length)
    buf += SpanRec(docSpan, parent, "doc", t0, s1, id)
    d
  }

  /** Feeds an output span sequence back through a fresh sink. */
  private def replay(out: Seq[Span]): Unit = {
    val sink = new SpanSink(Expect.WriteLimit.toInt)
    try out.foreach { s =>
      s.kind match {
        case Span.KindMedia => sink.media(s.media_ref)
        case Span.KindEmbeddedOpen => sink.embeddedOpen(s.media_ref)
        case Span.KindEmbeddedClose => sink.embeddedClose(s.media_ref)
        case _ => sink.chars(s.text); sink.flushText()
      }
    } catch { case _: graft.engine.WriteLimitReached => () }
    sink.result()
  }

  /** Core-seconds per layer, from the spans: each layer's total duration,
    * with `parse.<route>` reduced by the decode and detect time of the same
    * document.
    */
  def busy(recs: Vector[SpanRec]): Map[String, Double] = {
    val byName = recs.groupBy(_.name).map { case (n, rs) => n -> rs.map(_.ns).sum }
    val probeNs = recs.filter(r => r.name == "engine.decode" || r.name.endsWith(".detect"))
      .groupBy(_.parent).map { case (p, rs) => p -> rs.map(_.ns).sum }
    val parseSelf = recs.filter(_.name.startsWith("parse."))
      .groupBy(_.name).map { case (n, rs) =>
        n -> rs.map(r => math.max(0L, r.ns - probeNs.getOrElse(r.parent, 0L))).sum
      }
    val layers = Seq("engine.decode", "mime.detect", "zipx.detect", "ole2.detect",
      "engine.sink") ++ Routes.map("parse." + _)
    layers.map { n =>
      n -> parseSelf.getOrElse(n, byName.getOrElse(n, 0L)) / 1e9
    }.toMap
  }

  /** Raw `Extractor.extract` core-seconds per route, for per-core rates. */
  def extractS(recs: Vector[SpanRec]): Map[String, Double] =
    Routes.map(r => r -> recs.filter(_.name == "parse." + r).map(_.ns).sum / 1e9).toMap

  def write(recs: Vector[SpanRec], path: String): Unit = {
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(path), 1 << 16))
    try {
      w.println("id\tparent\tname\tstart_ns\tend_ns\tdoc")
      recs.foreach(r => w.println(s"${r.id}\t${r.parent}\t${r.name}\t${r.start}\t${r.end}\t${r.doc}"))
    } finally w.close()
  }
}
