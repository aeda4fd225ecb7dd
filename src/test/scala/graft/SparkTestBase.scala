package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.jdk.CollectionConverters._

/** One shared local session across all suites (ScalaTest runs them in one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  /** The larger oracled scale factor, beside [[sfDir]]. */
  val sf01Dir = s"${new java.io.File(sfDir).getParent}/sf0.01"

  /** Temp directories of one suite, deleted recursively after it. */
  trait TempDirs extends BeforeAndAfterAll { self: Suite =>
    private val tempDirs = new ConcurrentLinkedQueue[Path]()

    /** A new directory under `java.io.tmpdir`, deleted after the suite. */
    def tempDir(prefix: String): String = {
      val d = Files.createTempDirectory(prefix)
      tempDirs.add(d)
      d.toString
    }

    override protected def afterAll(): Unit =
      try tempDirs.asScala.foreach(graft.tables.SnapshotTable.deleteRecursively)
      finally super.afterAll()
  }
}
