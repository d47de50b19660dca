package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** The partial-buffer byte codecs of the native sketch aggregates'
  * `serialize`/`deserialize`: [[BloomFilterAgg]] and [[CountMinSketchAgg]]
  * store a flat `Array[Long]` ([[longsToBytes]]/[[bytesToLongs]]);
  * [[QuantileSketchAgg]], [[SpaceSavingTopK]] and [[TopKTokens]] write
  * their maps through [[written]].
  */
private[functions] object SketchBytes {
  /** The bytes `write` puts on a fresh stream (`size`: initial capacity). */
  def written(size: Int = 32)(write: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream(size)
    val out = new DataOutputStream(bos)
    write(out)
    out.flush()
    bos.toByteArray
  }

  def longsToBytes(buf: Array[Long]): Array[Byte] =
    written(buf.length * 8) { out =>
      var i = 0
      while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    }

  /** The first `n` longs of `bytes`, as [[longsToBytes]] wrote them. */
  def bytesToLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](n)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }
}
