package graftbench

import java.nio.charset.StandardCharsets.US_ASCII

/** One generated produce record. `value == null` is a tombstone. `id` is
  * unique per generator and is also written into the value, so every
  * downstream copy of the record (log, transform output, datalake row)
  * can be matched back to it. */
final case class GenRec(partition: Int, key: Array[Byte], value: Array[Byte],
    ts: Long, id: Long)

/**
 * Seeded input generator: FIXTURES.md F1 records with Zipf keys routed to
 * partitions by the reference client's murmur2 partitioner. The same seed
 * gives the same records, in the same order.
 *
 * Values are lowercase ASCII (so the upper-casing WASM guest changes every
 * byte after the id prefix) and start with `id=<12 digits>;`.
 */
final class Gen(seed: Long, nKeys: Int, partitions: Int,
    zipfExponent: Double = 1.1) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val pool: Array[Byte] =
    Array.fill(1 << 16)(('a' + rnd.nextInt(26)).toByte)
  private val keys: Array[Array[Byte]] =
    Array.tabulate(nKeys)(k => s"k$k".getBytes(US_ASCII))
  private val keyPartition: Array[Int] =
    keys.map(graft.functions.Murmur2.partitionFor(_, partitions))
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nKeys)(k => 1.0 / math.pow(k + 1, zipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private var nextId = 0L

  def keyIndex(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, nKeys - 1)
  }

  def value(id: Long, size: Int): Array[Byte] = {
    val v = new Array[Byte](size)
    val prefix = f"id=$id%012d;".getBytes(US_ASCII)
    System.arraycopy(prefix, 0, v, 0, math.min(prefix.length, size))
    var at = prefix.length
    while (at < size) {
      val from = rnd.nextInt(pool.length)
      val n = math.min(size - at, pool.length - from)
      System.arraycopy(pool, from, v, at, n)
      at += n
    }
    v
  }

  /** The next record: Zipf key, its murmur2 partition, a `valueSize`-byte
    * value or (with probability `pTombstone`) a tombstone. */
  def next(valueSize: Int, ts: Long, pTombstone: Double = 0.0): GenRec = {
    val k = keyIndex()
    val id = nextId
    nextId += 1
    val v = if (pTombstone > 0 && rnd.nextDouble() < pTombstone) null
      else value(id, valueSize)
    GenRec(keyPartition(k), keys(k), v, ts, id)
  }
}
