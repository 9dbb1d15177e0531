package graftbench

import graft.functions.RecordBatchCodec

/** The `graft.functions` layer measured directly: encode a workload's own
  * records into 500-record wire batches and decode them back, for a fixed
  * wall budget, and report raw (key + value) MB/s each way. */
object CodecProbe {
  private val BudgetNs = 400L * 1000 * 1000

  def run(sample: Seq[GenRec]): Map[String, Any] = {
    val recs = sample.zipWithIndex.map { case (r, i) =>
      RecordBatchCodec.Rec(i % 500, i.toLong, r.key, r.value, Nil)
    }.grouped(500).map(_.toIndexedSeq).toIndexedSeq
    val raw = sample.map(r => r.key.length.toLong +
      Option(r.value).fold(0)(_.length)).sum
    def timed(f: => Unit): Double = {
      var rounds = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < BudgetNs) { f; rounds += 1 }
      raw * rounds / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    def encodeAll() = recs.map(b => RecordBatchCodec.encode(0L, 0, 0, 0L,
      b.size.toLong, -1L, -1, -1, b))
    val batches = encodeAll()
    val enc = timed(encodeAll())
    var decoded = 0L
    val dec = timed(batches.foreach { b =>
      val h = RecordBatchCodec.decodeHeader(b)
      decoded += RecordBatchCodec.decodeRecords(
        RecordBatchCodec.recordsRegion(b), h.recordCount).size
    })
    require(decoded > 0, "codec probe decoded nothing")
    Map("functions.codec_encode_mb_per_s" -> enc,
      "functions.codec_decode_mb_per_s" -> dec)
  }
}
