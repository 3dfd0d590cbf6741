package graft

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /** `f` whose renames after the first `ok` end in `fail` (false, or a throw for a kill). */
  def renamesFailAfter(f: FileSystem, ok: Int)(fail: => Boolean): FileSystem =
    new FilterFileSystem(f) {
      private var n = 0
      override def rename(src: Path, dst: Path): Boolean = {
        n += 1
        if (n > ok) fail else super.rename(src, dst)
      }
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftConf.tune(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
