package graftbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.io.File

/** Seeded input generation helpers: every generated value is a hash
  * of the seed and the row's coordinates, so one seed always yields
  * the same inputs regardless of partitioning. */
object Gen {
  /** Integer in [0, n) from hashing the seed with `parts`. */
  def pick(seed: Long, n: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(n))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, parts: Column*): Column =
    pick(seed, 1000003L, parts: _*).cast("double") / 1000003.0

  /** Total bytes of the regular files under `path`. */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.isFile) f.length()
      else 0L
    walk(new File(path))
  }

  /** Bytes of the data files a reader would open, skipping Spark's
    * `_SUCCESS` markers and `.crc` checksums. */
  def dataBytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) f.length()
      else 0L
    walk(new File(path))
  }

  def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  /** Order-insensitive fingerprint of a multiset of row hashes. */
  def sortedHash(hashes: Array[Long]): Long = {
    val s = hashes.sorted
    s.foldLeft(1125899906842597L)((h, x) => 31 * h + x)
  }
}
