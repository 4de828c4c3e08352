package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `GraftSession.create` is the one session factory: every harness, the
  * benchmark and the test suite run on the conf it sets.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("no session builder in src/ outside GraftSession and Smoke") {
    // Smoke keeps a deliberately bare session: it checks entry() on a
    // default session
    val needle = "SparkSession" + ".builder"
    val allowed = Set("GraftSession.scala", "Smoke.scala")
    val files = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"),
      "run from the repository root")
    def hits(p: Path) = Files.readString(p).contains(needle)
    val offenders = files.filter(p => hits(p) && !allowed(p.getFileName.toString))
    assert(offenders.isEmpty, s"build sessions with GraftSession.create: ${offenders.mkString(", ")}")
    assert(files.filter(p => allowed(p.getFileName.toString)).forall(hits))
  }

  test("a created session carries codegen retention, the tuned confs, UTC and its partitions") {
    // TestSpark.spark is GraftSession.create("graft-test", "local[4]", 4)
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    graft.core.GraftSession.tunedShuffleConfs.foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
    }
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled").foreach(k => assert(conf.get(k) == "true", k))
  }
}
