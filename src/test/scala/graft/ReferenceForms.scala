package graft

import graft.pipeline.{Importance, Mpeg1Writer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms the specs pin the engine against: interpreted column
  * formulas the one-pass expressions must match bit for bit (and that the
  * DuckDB oracles mirror), and encoders that build decoder inputs.
  */
object ReferenceForms {

  /** Hex-nibble column formula for `Dedup.simhashBitArray`: the 64 signed
    * SimHash bits of a token (±1, MSB-first md5 bits).
    */
  def simhashBitsHof(tok: Column): Column = {
    val h = md5(tok.cast("binary"))
    transform(sequence(lit(0), lit(63)), j => {
      val nib = instr(lit("0123456789abcdef"),
        substring(h, (j / 4).cast("int") + 1, lit(1))) - 1
      (floor(nib / pow(lit(2.0), lit(3) - j % 4)).cast("int") % 2) * 2 - 1
    })
  }

  /** HOF form of `Importance.dsirUnitsColumn`, interpreted per gram. */
  def dsirUnitsHofColumn(df: DataFrame, text: Column, isTarget: Column,
      buckets: Int = 512, scale: Long = 1000000L): Column = {
    val lrMap = Importance.censusWeights(df, text, isTarget, buckets, scale)
    coalesce(
      aggregate(Importance.featureGrams(text), lit(0L),
        (acc, gm) => acc + element_at(typedLit(lrMap),
          Importance.gramBucket(gm, buckets))),
      lit(0L))
  }

  /** Naive registered domain: the host's last two labels. The PSL-backed
    * `TextAnalysis.registeredDomain` must differ from it exactly where a
    * public suffix has more than one label (`shop.example.co.uk` groups
    * under `example.co.uk`, not `co.uk`).
    */
  def registeredDomainNaive(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** numcodecs `LZ4` encode (uint32-LE size prefix + LZ4 block). */
  def lz4NumcodecsCompress(data: Array[Byte]): Array[Byte] = {
    val c = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
    val max = c.maxCompressedLength(data.length)
    val buf = new Array[Byte](4 + max)
    java.nio.ByteBuffer.wrap(buf, 0, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(data.length)
    val n = c.compress(data, 0, data.length, buf, 4, max)
    java.util.Arrays.copyOf(buf, 4 + n)
  }

  /** One self-contained MPEG-1 elementary stream (sequence header + gray
    * pictures + sequence_end), decodable by `Mpeg1.decodeIntra` or any
    * MPEG-1 decoder.
    */
  def grayStream(width: Int, height: Int, grays: Seq[Int]): Array[Byte] = {
    val aus = Mpeg1Writer.grayPictures(width, height, grays)
    val end = Array[Byte](0, 0, 1, 0xb7.toByte)
    (aus.flatten ++ end).toArray
  }
}
