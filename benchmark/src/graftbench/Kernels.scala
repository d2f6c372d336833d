package graftbench

import java.io.{ByteArrayOutputStream, OutputStream}

import scala.util.Random

import graft.functions.{Bunzip2, GunzipPayload, LzmaAlonePayload, XzPayload, ZstdPayload}

/** Decoder throughput outside the scheduler: seeded text is compressed
  * with the stock encoders on the Spark classpath and each kernel's
  * static `compute` decodes it back; MB/s counts decoded bytes. */
object Kernels {
  final case class Kernel(name: String, encode: Array[Byte] => Array[Byte],
                          decode: (Array[Byte], Int) => Array[Byte])

  private def stream(b: Array[Byte])(open: OutputStream => OutputStream): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val o = open(bo)
    o.write(b)
    o.close()
    bo.toByteArray
  }

  val all: Seq[Kernel] = Seq(
    Kernel("zstd", b => com.github.luben.zstd.Zstd.compress(b, 3), ZstdPayload.compute),
    Kernel("xz", b => stream(b)(new org.tukaani.xz.XZOutputStream(_, new org.tukaani.xz.LZMA2Options(6))),
      XzPayload.compute),
    Kernel("bzip2", b => stream(b)(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_, 9)),
      Bunzip2.compute),
    Kernel("gzip", b => stream(b)(new java.util.zip.GZIPOutputStream(_)), GunzipPayload.compute),
    Kernel("lzma", b => stream(b)(new org.tukaani.xz.LZMAOutputStream(_, new org.tukaani.xz.LZMA2Options(6), -1L)),
      LzmaAlonePayload.compute))

  /** Word soup over a seeded vocabulary with a skewed word choice, so
    * every codec finds both literals and matches. */
  def input(seed: Long, bytes: Int): Array[Byte] = {
    val rnd = new Random(seed)
    val vocab = Array.fill(4096)(Array.fill(2 + rnd.nextInt(9))(('a' + rnd.nextInt(26)).toChar).mkString)
    val sb = new StringBuilder(bytes + 16)
    while (sb.length < bytes) {
      val r = rnd.nextDouble()
      sb.append(vocab((r * r * r * vocab.length).toInt))
      sb.append(if (rnd.nextInt(12) == 0) '\n' else ' ')
    }
    sb.toString.take(bytes).getBytes("UTF-8")
  }

  /** name → (MB/s per repetition, decoded exactly). Each kernel runs at
    * least `reps` times and for at least `minSeconds`. */
  def run(seed: Long, bytes: Int, reps: Int, minSeconds: Double): Seq[(String, Seq[Double], Boolean)] = {
    val plain = input(seed, bytes)
    all.map { k =>
      val packed = k.encode(plain)
      val cap = plain.length * 2
      var ok = java.util.Arrays.equals(k.decode(packed, cap), plain) // warm-up and check
      val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (rates.size < reps || (System.nanoTime() - t0) / 1e9 < minSeconds) {
        val s = System.nanoTime()
        val out = k.decode(packed, cap)
        rates += plain.length / 1048576.0 / ((System.nanoTime() - s) / 1e9)
        ok &&= out != null && out.length == plain.length
      }
      (k.name, rates.toSeq, ok)
    }
  }
}
