package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf0001 = "/root/testdata/sf0.001"

  /** `n` deterministic draws of `g`, seeded `seed`, `seed + 1`, ... */
  protected def samples[T](g: org.scalacheck.Gen[T], n: Int,
      seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed + i)))

  /** Run `body` once per [[graft.meta.FileIO]] implementation — POSIX
    * rename/fsync semantics AND the object-store emulation (conditional
    * PUT, lease locks, no atomic rename) — so protocol model checks face
    * the same random interleavings under both. The tag names the failing
    * impl in assertion messages. */
  protected def underEachFileIO(body: String => Unit): Unit =
    Seq("localfs" -> graft.meta.LocalFileIO,
      "objectstore" -> graft.meta.ObjectStoreFileIO).foreach {
      case (tag, impl) =>
        val prev = graft.meta.FileIO.impl
        graft.meta.FileIO.impl = impl
        try body(tag) finally graft.meta.FileIO.impl = prev
    }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
