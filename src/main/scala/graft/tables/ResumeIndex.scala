package graft.tables

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow

/**
 * The chain's resume state per canonical url key, for the membership lookup
 * `Extract.run` makes inside its scan: a sorted `long[]` of url keys and a
 * parallel `int[]` of states, 12 bytes per key.
 *
 * A state of -1 ([[ResumeIndex.Done]]) means the key is done; n >= 1 means
 * n prior failed attempts, still retryable; a key that is absent has state
 * 0 (never attempted). The states are those of
 * `SnapshotTable.ResumeInputs`: a key is done if any of its url spellings
 * has a success or at least maxRetries failures, and otherwise carries the
 * largest failure count among its spellings.
 */
final class ResumeIndex private (val keys: Array[Long], val states: Array[Int])
    extends Serializable {

  /** The state of `key`: -1 done, n >= 1 prior failures, 0 absent. */
  def state(key: Long): Int = {
    val i = java.util.Arrays.binarySearch(keys, key)
    if (i >= 0) states(i) else 0
  }
}

object ResumeIndex {
  val Done: Int = -1

  /** One task's share of the chain: the distinct keys with a success
    * (sorted), and failed attempts per url spelling (null url included). */
  final case class Fold(okKeys: Array[Long], failUrls: Array[String],
                        failKeys: Array[Long], failCounts: Array[Int])

  /** Folds rows of (url_key BIGINT, ok BOOLEAN, url STRING: the spelling of a
    * failed row, ignored on a success) into compact arrays. */
  def fold(rows: Iterator[InternalRow]): Fold = {
    val ok = new mutable.ArrayBuilder.ofLong
    val fails = mutable.HashMap.empty[String, (Long, Int)]
    rows.foreach { r =>
      if (r.getBoolean(1)) ok += r.getLong(0)
      else addFailures(fails, if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
        r.getLong(0), 1)
    }
    val (urls, kn) = fails.toArray.unzip
    Fold(distinctSorted(ok.result()), urls, kn.map(_._1), kn.map(_._2))
  }

  /** Merges the folds of every task: failures add up per url spelling
    * before the maxRetries test, because a spelling's attempts can sit in
    * different snapshots. */
  def merge(folds: Seq[Fold], maxRetries: Int): ResumeIndex = {
    val perUrl = mutable.HashMap.empty[String, (Long, Int)]
    folds.foreach { f =>
      f.failUrls.indices.foreach(i => addFailures(perUrl, f.failUrls(i), f.failKeys(i), f.failCounts(i)))
    }
    val all = new mutable.ArrayBuilder.ofLong
    folds.foreach(f => all.addAll(f.okKeys))
    val ok = distinctSorted(all.result())
    // per key: Done if any spelling is terminal, else the largest count
    val failed = mutable.HashMap.empty[Long, Int]
    perUrl.valuesIterator.foreach { case (key, n) =>
      val s = if (n >= maxRetries) Done else n
      val prev = failed.getOrElse(key, 0)
      failed(key) = if (prev == Done || s == Done) Done else math.max(prev, s)
    }
    // a key with a success is Done whatever its failures
    def isOk(k: Long) = java.util.Arrays.binarySearch(ok, k) >= 0
    val keys = ok ++ failed.keysIterator.filterNot(isOk)
    java.util.Arrays.sort(keys)
    new ResumeIndex(keys, keys.map(k => if (isOk(k)) Done else failed(k)))
  }

  /** Adds `n` failed attempts of the spelling `url` (of key `key`). */
  private def addFailures(m: mutable.HashMap[String, (Long, Int)], url: String, key: Long,
                          n: Int): Unit =
    m(url) = (key, m.get(url).fold(0)(_._2) + n)

  private def distinctSorted(a: Array[Long]): Array[Long] =
    if (a.isEmpty) a
    else {
      java.util.Arrays.sort(a)
      var n = 1
      var i = 1
      while (i < a.length) {
        if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, n)
    }
}
