package graft.tables

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.graft.SparkEvents
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The commit protocol: one concurrent write wave, then the publish. A
  * failed wave must leave the previous snapshot current, and reads of a
  * committed table must not start schema-inference jobs.
  */
class SnapshotTableSpec extends AnyFunSuite with SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft-snap")

  private def longs(st: SnapshotTable, name: String): Seq[Long] =
    st.read(spark, name).as[Long].collect().toSeq.sorted

  test("a failed write throws after its siblings finish, publishes nothing; the next commit reuses the id") {
    val dir = tmp()
    val st = new SnapshotTable(dir)
    assert(st.commit(Map("a" -> Seq(1L).toDF("x")),
      appendOnly = Map("log" -> Seq(10L).toDF("v"))) === 0L)

    // fails at execution, after planning succeeded
    val bad = spark.range(0, 8, 1, 2)
      .select(when(col("id") === 5L, raise_error(lit("injected write failure")))
        .otherwise(col("id")).as("x"))
    // slower than the failing write: if commit threw without waiting for
    // it, its _SUCCESS marker would not exist yet
    val slow = spark.range(0, 4, 1, 4).as[Long]
      .map { v => Thread.sleep(500); v }.toDF("v")
    var sideRan = false
    intercept[Exception] {
      st.commit(Map("a" -> bad, "b" -> Seq(2L).toDF("y")),
        appendOnly = Map("log" -> slow),
        alongside = Seq(() => sideRan = true))
    }
    val orphan = Paths.get(dir, "snap-000001")
    for (t <- Seq("b", "log"))
      assert(Files.exists(orphan.resolve(t).resolve("_SUCCESS")), s"$t still in flight")
    assert(sideRan)
    assert(!Files.exists(orphan.resolve("MANIFEST")))
    assert(st.latestSnapshot === Some(0L))
    assert(st.tableNames() === Seq("a", "log"))
    assert(longs(st, "a") === Seq(1L))
    assert(longs(st, "log") === Seq(10L))

    // the next good commit reuses id 1 and replaces the orphan directory
    assert(st.commit(Map("a" -> Seq(3L).toDF("x")),
      appendOnly = Map("log" -> Seq(11L).toDF("v"))) === 1L)
    assert(!Files.exists(orphan.resolve("b")), "orphan table survived the retry")
    assert(longs(st, "a") === Seq(3L))
    assert(longs(st, "log") === Seq(10L, 11L))
    assert(st.tableNames() === Seq("a", "log"))
  }

  test("reading a committed table starts no job before an action, and reads the inferred schema") {
    val dir = tmp()
    val st = new SnapshotTable(dir)
    val rows = Seq(("h", 1L, 2, Array[Byte](1, 2), Seq("u"))).toDF("host", "n", "p", "blob", "links")
    st.commit(Map("t" -> rows), appendOnly = Map("log" -> rows))
    st.commit(Map.empty, appendOnly = Map("log" -> rows))
    for (name <- Seq("t", "log")) {
      val (df, seen) = SparkEvents.during(spark.sparkContext)(st.read(spark, name))
      assert(seen.jobs === 0, s"reading $name started ${seen.jobs} job(s)")
      val inferred = spark.read.parquet(st.segmentsOf(st.latestSnapshot.get, name): _*)
      assert(df.schema === inferred.schema)
    }
    assert(st.read(spark, "log").count() === 2L)
  }

  test("a table whose schema changes is read with its new schema, and older snapshots still read") {
    val dir = tmp()
    val st = new SnapshotTable(dir)
    st.commit(Map("t" -> Seq(1L).toDF("x")))
    st.commit(Map("t" -> Seq(("a", 2L)).toDF("s", "x")))
    assert(st.read(spark, "t").columns.toSeq === Seq("s", "x"))
    assert(st.read(spark, "t", Some(0L)).as[Long].collect().toSeq === Seq(1L))
  }

  test("local writes set permissions and leave no checksum sidecars; reads still check page CRCs") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.GraftLocalFileSystem])
    val st = new SnapshotTable(tmp())
    // random longs: snappy leaves them as literals, so each value's bytes
    // appear in the file as written
    val vs = Seq.fill(1000)(scala.util.Random.nextLong()).distinct.sorted
    st.commit(Map("t" -> vs.toDF("v").coalesce(1)))
    val files = Files.walk(Paths.get(st.dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    assert(files.filter(_.getFileName.toString.endsWith(".crc")).isEmpty)
    val part = files.filter(_.getFileName.toString.startsWith("part-")).head
    // Hadoop's default umask (022) applied through java.nio
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(part)) === "rw-r--r--")
    assert(longs(st, "t") === vs)

    // flip a bit of one stored value (little-endian, in the dictionary page):
    // without the CRC check the read would return a wrong value silently
    val bytes = Files.readAllBytes(part)
    val value = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(vs(500)).array()
    val at = bytes.indices.find(i => bytes.slice(i, i + 8).sameElements(value)).get
    bytes(at) = (bytes(at) ^ 1).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](longs(st, "t"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("CRC checksum")),
      causes.map(_.toString).mkString("\n"))
  }
}
