package extractbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.kernel.ExtractKernel.ExtractedDoc

/**
 * Order-independent digest of extracted rows: each row hashes (url,
 * doc_type, extracted_text, text_main, title, spans, error, attempt) to 64
 * bits; a set of rows is its count, success count, and the sum and xor of
 * the row hashes. The same function digests the rows a pass wrote and the
 * rows direct kernel calls produce, so equal digests mean equal outputs.
 */
object Digest {
  final case class Acc(rows: Long, ok: Long, sum: Long, xor: Long) {
    def add(h: Long, isOk: Boolean): Acc =
      Acc(rows + 1, ok + (if (isOk) 1 else 0), sum + h, xor ^ h)
    def merge(o: Acc): Acc = Acc(rows + o.rows, ok + o.ok, sum + o.sum, xor ^ o.xor)
  }
  val Zero: Acc = Acc(0, 0, 0, 0)

  private final val Prime = 0x100000001b3L

  private def str(h0: Long, s: String): Long = {
    var h = h0
    if (s == null) h = (h ^ 0x1ffffL) * Prime
    else {
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * Prime; i += 1 }
      // terminator outside the char range: "ab"+"c" and "a"+"bc" differ
      h = (h ^ 0x10000L) * Prime
    }
    h
  }

  private def num(h0: Long, x: Long): Long = {
    var h = h0
    var i = 0
    while (i < 8) { h = (h ^ ((x >>> (8 * i)) & 0xff)) * Prime; i += 1 }
    h
  }

  private def finish(h0: Long): Long = {
    var z = h0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def doc(d: ExtractedDoc): Long = {
    var h = 0xcbf29ce484222325L
    h = str(h, d.url)
    h = str(h, d.doc_type)
    h = str(h, d.extracted_text)
    h = str(h, d.text_main)
    h = str(h, d.title)
    val spans = if (d.spans == null) Array.empty[graft.kernel.ExtractKernel.Span] else d.spans
    h = num(h, spans.length.toLong)
    spans.foreach { s => h = str(h, s.kind); h = num(h, s.start); h = num(h, s.end) }
    h = str(h, d.error)
    h = num(h, if (d.lineage == null) -1L else d.lineage.attempt.toLong)
    finish(h)
  }

  def of(docs: Iterator[ExtractedDoc]): Acc =
    docs.foldLeft(Zero)((a, d) => a.add(doc(d), d.error == null))

  /** Digest of a Dataset of extracted rows, computed on the executors. */
  def of(spark: SparkSession, ds: Dataset[ExtractedDoc]): Acc = {
    import spark.implicits._
    ds.mapPartitions { it => val a = of(it); Iterator((a.rows, a.ok, a.sum, a.xor)) }
      .collect().foldLeft(Zero) { case (a, (r, o, s, x)) => a.merge(Acc(r, o, s, x)) }
  }
}
