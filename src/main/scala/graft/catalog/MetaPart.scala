package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap

/** The `(id, meta)` pairs of one immutable data part file, packed for the
  * driver-side metadata attach of [[VecDB.searchBatch]]: ids ascending, and
  * every row's map encoded into one UTF-8 blob, row `i` from `offsets(i)`.
  * Only the rows a search hits are ever decoded.
  *
  * Row encoding: entry count, then per entry the key and the value, each a
  * length and its UTF-8 bytes. Counts and lengths are unsigned varints
  * holding n + 1, with 0 standing for null (null meta, null value). */
private[catalog] final class MetaPart private (
    ids: Array[Long], offsets: Array[Int], blob: Array[Byte]) {

  /** Driver bytes held (the sidecar cache's size estimate). */
  def bytes: Long = 64L + 8L * ids.length + 4L * offsets.length + blob.length

  /** Row index of `id`, or a negative value when this file lacks it. */
  def indexOf(id: Long): Int =
    if (ids.isEmpty || id < ids(0) || id > ids(ids.length - 1)) -1
    else java.util.Arrays.binarySearch(ids, id)

  /** Meta of row `i` in its stored entry order; null for null meta. */
  def meta(i: Int): Map[String, String] = {
    var pos = offsets(i)
    def next(): Int = {
      var v = 0; var shift = 0; var b = 0
      while ({ b = blob(pos); pos += 1; v |= (b & 0x7f) << shift; shift += 7; b < 0 }) ()
      v
    }
    def str(): String = {
      val n = next() - 1
      if (n < 0) null
      else { val s = new String(blob, pos, n, UTF_8); pos += n; s }
    }
    val n = next() - 1
    if (n < 0) null
    else {
      val b = ListMap.newBuilder[String, String]
      var j = 0
      while (j < n) { val k = str(); b += k -> str(); j += 1 }
      b.result()
    }
  }
}

private[catalog] object MetaPart {

  /** Pack rows of (id, map keys, map values); a null key array is null meta. */
  def apply(rows: Seq[(Long, collection.Seq[String], collection.Seq[String])]): MetaPart = {
    val sorted = rows.sortBy(_._1)
    val out = new java.io.ByteArrayOutputStream
    def put(n: Int): Unit = {
      var v = n
      while (v >= 0x80) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
      out.write(v)
    }
    def putStr(s: String): Unit =
      if (s == null) put(0)
      else { val b = s.getBytes(UTF_8); put(b.length + 1); out.write(b) }
    val offsets = new Array[Int](sorted.length)
    sorted.iterator.zipWithIndex.foreach { case ((_, ks, vs), i) =>
      offsets(i) = out.size
      if (ks == null) put(0)
      else {
        put(ks.length + 1)
        ks.iterator.zip(vs.iterator).foreach { case (k, v) => putStr(k); putStr(v) }
      }
    }
    new MetaPart(sorted.map(_._1).toArray, offsets, out.toByteArray)
  }
}
