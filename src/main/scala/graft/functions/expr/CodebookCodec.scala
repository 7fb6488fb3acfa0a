package graft.functions.expr

import java.nio.{ByteBuffer, ByteOrder}

/** Packed-binary codebook encoding for the nearest-cell kernels.
  *
  * Why: a codebook passed as a `typedlit(Seq[Seq[Double]])` literal is a
  * GenericArrayData of BOXED doubles inside the plan tree — at k=1600
  * (dim 64) that is ~100k heap objects which the driver Java-serializes
  * into EVERY stage's task binary, every task re-deserializes, and plan
  * canonicalization deep-hashes. Measured (the assign_literal_tax
  * family of the since-deleted ProbeFamily probe, SURVEY.md rounds
  * 15-16; ×100, the SemDeDup increment): the boxed-literal plans spent
  * more wall time in driver/task plumbing than in all task work
  * combined — capped k=512 probed 2.3 s vs k=1600's 5.7 s with FEWER
  * pairs to compare and summed task run time ~4 s across 32 cores. A
  * BinaryType literal is one primitive byte[]: O(bytes) serialize/hash,
  * no per-element boxing.
  *
  * Layouts (little-endian):
  *   vector  = [int n][n doubles]
  *   matrix  = [int k][k ints rowLen][concatenated doubles]  (ragged ok)
  *   nested  = [int c][c × matrix blocks, each int-length-prefixed]
  */
object CodebookCodec {

  private def buf(bytes: Int): ByteBuffer =
    ByteBuffer.allocate(bytes).order(ByteOrder.LITTLE_ENDIAN)

  def packVector(v: Array[Double]): Array[Byte] = {
    val b = buf(4 + 8 * v.length)
    b.putInt(v.length)
    v.foreach(b.putDouble)
    b.array()
  }

  def unpackVector(bytes: Array[Byte]): Array[Double] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = b.getInt
    Array.fill(n)(b.getDouble)
  }

  def packMatrix(m: Array[Array[Double]]): Array[Byte] = {
    val b = buf(4 + 4 * m.length + 8 * m.iterator.map(_.length).sum)
    b.putInt(m.length)
    m.foreach(r => b.putInt(r.length))
    m.foreach(_.foreach(b.putDouble))
    b.array()
  }

  def unpackMatrix(bytes: Array[Byte]): Array[Array[Double]] =
    readMatrix(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))

  private def readMatrix(b: ByteBuffer): Array[Array[Double]] = {
    val k = b.getInt
    val lens = Array.fill(k)(b.getInt)
    lens.map(n => Array.fill(n)(b.getDouble))
  }

  /** int-vector form (PQ table offsets): [int n][n ints]. */
  def packInts(v: Array[Int]): Array[Byte] = {
    val b = buf(4 + 4 * v.length)
    b.putInt(v.length)
    v.foreach(b.putInt)
    b.array()
  }

  def unpackInts(bytes: Array[Byte]): Array[Int] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = b.getInt
    Array.fill(n)(b.getInt)
  }

  def packNested(t: Array[Array[Array[Double]]]): Array[Byte] = {
    val blocks = t.map(packMatrix)
    val b = buf(4 + blocks.iterator.map(4 + _.length).sum)
    b.putInt(t.length)
    blocks.foreach { bl => b.putInt(bl.length); b.put(bl) }
    b.array()
  }

  def unpackNested(bytes: Array[Byte]): Array[Array[Array[Double]]] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val c = b.getInt
    Array.fill(c) {
      val len = b.getInt
      val block = new Array[Byte](len)
      b.get(block)
      unpackMatrix(block)
    }
  }
}
