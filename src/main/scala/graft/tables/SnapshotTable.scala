package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table layer: partitioned parquet + an atomically
  * committed manifest pointer, giving the three properties the crawl state
  * machine needs (SURVEY.md §7): atomic snapshot commit, resumable cursor,
  * time travel. No Iceberg runtime jar ships in this sandbox, so the
  * manifest is a tab-separated text file and the commit point is a filesystem
  * atomic-rename of the LATEST pointer — the same commit discipline as the
  * reference's whole-file checkpoint overwrite
  * (/root/reference/state/state.go:83-96), but versioned instead of
  * destructive. On a real deployment this class is the seam where an actual
  * Iceberg/Delta catalog plugs in.
  *
  * Layout:
  *   dir/snap-%06d/<name>/   parquet per logical table
  *   dir/snap-%06d/MANIFEST  committed table names + segment paths,
  *                           relative to dir
  *   dir/LATEST              current snapshot id (atomic rename target)
  *   dir/SCHEMAS             per-table read schema (see below)
  *
  * Write wave, then publish: a [[commit]] submits every table segment, plus
  * the caller's `alongside` writes (sink outputs, derived stores), as ONE
  * concurrent wave — a thread per write, created inside the call so each
  * inherits the caller's Spark local properties (job group, pool, tags) —
  * and waits for all of them. Only then does it write `MANIFEST` and rename
  * `LATEST`. A round's fixed cost is then one wave of small jobs overlapping
  * on the executors instead of a serial chain of them.
  *
  * Crash semantics: if any write of the wave fails, the commit waits for
  * the rest to finish, rethrows, and leaves `LATEST` untouched. A crash
  * anywhere before the rename leaves an orphan snapshot directory that no
  * manifest references — readers only follow LATEST, so resume semantics are
  * exactly "last committed snapshot" (at-least-once downstream, SURVEY.md
  * §2.9). The next commit reuses the orphan's id and clears its directory
  * first.
  *
  * Schema record: `SCHEMAS` holds, per table, the schema its parquet reads
  * back with and the snapshot id it holds from. It is written before the
  * publish and rewritten only when a committed table's schema changes, so
  * it is one small file per state directory, not a sidecar per segment or
  * snapshot. [[read]] passes the recorded schema to the parquet reader,
  * which then starts no schema-inference job; a snapshot older than its
  * table's record (or with none) is read with inference.
  */
final class SnapshotTable(val dir: String) {
  private val root: Path = Paths.get(dir)

  private def snapDir(id: Long): Path = root.resolve(f"snap-$id%06d")

  def latestSnapshot: Option[Long] = {
    val p = root.resolve("LATEST")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Write all `tables` as parquet under a new snapshot, then atomically
    * publish it. `appendOnly` tables write ONLY the given delta as a new
    * segment; the manifest carries the previous snapshot's segment list
    * forward — the Iceberg append-commit shape. This is what keeps a
    * monotonically-growing table (the 10^10-row seen set) O(delta) per
    * round instead of O(total). `alongside` are the caller's other durable
    * writes that must land before this snapshot publishes; they run in the
    * same concurrent wave as the table segments.
    *
    * Returns the new snapshot id.
    */
  def commit(tables: Map[String, DataFrame],
      appendOnly: Map[String, DataFrame] = Map.empty,
      alongside: Seq[() => Unit] = Nil): Long = {
    val prev = latestSnapshot
    val id = prev.map(_ + 1).getOrElse(0L)
    val sd = snapDir(id)
    SnapshotTable.deleteRecursively(sd) // an orphan of a failed attempt at this id
    Files.createDirectories(sd)
    val written = tables ++ appendOnly
    SnapshotTable.concurrently(alongside ++ written.map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(sd.resolve(name).toString)
    })
    recordSchemas(id, written.map { case (n, df) => n -> SnapshotTable.readBack(df.schema) })
    val seg = (name: String) => s"${sd.getFileName}/$name"
    val appended: Map[String, Seq[String]] = appendOnly.map { case (name, _) =>
      name -> (prev.map(p => manifestOf(p)(name)).getOrElse(Seq.empty) :+ seg(name))
    }
    // tables present in the previous snapshot but not rewritten or appended
    // this commit carry their segment list forward untouched
    val carried: Map[String, Seq[String]] = prev match {
      case Some(p) => manifestOf(p).view
        .filterKeys(n => !written.contains(n)).toMap
      case None => Map.empty
    }
    val manifest =
      (tables.keys.map(n => s"$n\t${seg(n)}") ++
        appended.map { case (n, segs) => s"$n\t${segs.mkString("\t")}" } ++
        carried.map { case (n, segs) => s"$n\t${segs.mkString("\t")}" })
        .toSeq.sorted.mkString("\n")
    Files.writeString(sd.resolve("MANIFEST"), manifest)
    publish("LATEST", id.toString)
    id
  }

  /** Atomically replace `name` under the table root with `content`. */
  private def publish(name: String, content: String): Unit = {
    val tmp = root.resolve(s".$name.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, root.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** name → (first snapshot id the schema holds for, schema). */
  private def schemaRecord: Map[String, (Long, StructType)] = {
    val p = root.resolve("SCHEMAS")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val Array(name, since, json) = line.split("\t", 3)
      name -> (since.toLong, DataType.fromJson(json).asInstanceOf[StructType])
    }.toMap
  }

  /** Rewrite the schema record only if a table committed at `id` reads back
    * with a schema other than the recorded one.
    */
  private def recordSchemas(id: Long, schemas: Map[String, StructType]): Unit = {
    val old = schemaRecord
    val changed = schemas.filter { case (n, s) => !old.get(n).exists(_._2 == s) }
    if (changed.nonEmpty) {
      val next = old ++ changed.map { case (n, s) => n -> (id, s) }
      publish("SCHEMAS", next.toSeq.sortBy(_._1)
        .map { case (n, (since, s)) => s"$n\t$since\t${s.json}" }.mkString("\n"))
    }
  }

  private def manifestOf(id: Long): Map[String, Seq[String]] =
    Files.readString(snapDir(id).resolve("MANIFEST")).split("\n")
      .filter(_.nonEmpty)
      .map { line =>
        val parts = line.split("\t").toSeq
        parts.head -> parts.tail
      }.toMap

  /** Data paths (segments) of a table at a snapshot. */
  def segmentsOf(id: Long, name: String): Seq[String] =
    manifestOf(id)(name).map(p => root.resolve(p).toString)

  /** Read a logical table at the latest (or a pinned) snapshot — unions all
    * of its segments for append-only tables. With the schema record in
    * place this starts no Spark job before an action.
    */
  def read(spark: SparkSession, name: String, snapshot: Option[Long] = None): DataFrame = {
    val id = snapshot.orElse(latestSnapshot).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir"))
    val segs = segmentsOf(id, name)
    schemaRecord.get(name).filter(_._1 <= id) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(segs: _*)
      case None => spark.read.parquet(segs: _*)
    }
  }

  def tableNames(snapshot: Option[Long] = None): Seq[String] = {
    val id = snapshot.orElse(latestSnapshot).getOrElse(return Seq.empty)
    manifestOf(id).keys.toSeq.sorted
  }

  /** Drop snapshot DIRECTORIES older than `keep` behind latest, except any
    * directory still referenced as a segment by the latest manifest
    * (append-only history stays live until compacted). Never drops latest,
    * so resume is unaffected — FIXTURES.md §5.
    */
  def expireOldSnapshots(keep: Int = 2): Unit = {
    latestSnapshot.foreach { latest =>
      val live: Set[Long] = manifestOf(latest).values.flatten
        .map(p => Paths.get(p).getParent.getFileName.toString)
        .filter(_.startsWith("snap-"))
        .map(_.stripPrefix("snap-").toLong).toSet
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("snap-"))
        .filter { p =>
          val sid = p.getFileName.toString.stripPrefix("snap-").toLong
          sid < latest - keep + 1 && !live.contains(sid)
        }
        .toSeq.foreach(SnapshotTable.deleteRecursively)
      finally s.close()
    }
  }
}

object SnapshotTable {

  /** Delete `p` and, if it is a directory, everything under it. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** The schema a parquet segment written from `s` reads back with: Spark
    * writes every field (and element, and map value) as nullable.
    */
  private def readBack(s: StructType): StructType = {
    def go(t: DataType): DataType = t match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = go(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(go(a.elementType), containsNull = true)
      case m: MapType => MapType(go(m.keyType), go(m.valueType), valueContainsNull = true)
      case other => other
    }
    go(s).asInstanceOf[StructType]
  }

  /** Run `writes` at once, one thread each, and wait for every one of them.
    * The threads are created here, not taken from a pool: Spark's local
    * properties (job group, scheduler pool, caller tags) reach a thread only
    * when it is created from the caller's. If any write fails, the first
    * failure is rethrown (the others attached as suppressed) once all have
    * finished, so a caller never publishes past a failed write and never
    * races a write still in flight.
    */
  def concurrently(writes: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writes.zipWithIndex.map { case (w, i) =>
      val t = new Thread(() => try w() catch { case e: Throwable => failures.add(e) },
        s"graft-write-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.asScala.toList match {
      case first :: rest => rest.foreach(first.addSuppressed); throw first
      case Nil =>
    }
  }
}
