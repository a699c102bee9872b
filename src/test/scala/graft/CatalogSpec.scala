package graft

import graft.sources.Catalog
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** The local file system under the `countfs` scheme, recording every
  * directory listing and every permission, owner or group lookup made on
  * the statuses it returns. `RawLocalFileSystem` answers such a lookup by
  * running a shell command unless Hadoop's native library is loaded; here
  * it is answered with `FileStatus`'s defaults. */
class CountingFs extends RawLocalFileSystem {
  import CountingFs._
  override def getUri: URI = Uri
  override def getScheme: String = Scheme
  override def getFileStatus(f: Path): FileStatus = counted(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    hit("listStatus", f)
    super.listStatus(f).map(counted)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit("listLocatedStatus", f)
    super.listLocatedStatus(f)
  }
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    hit("listFiles", f)
    super.listFiles(f, recursive)
  }
}

object CountingFs {
  val Scheme = "countfs"
  private val Uri = URI.create(s"$Scheme:///")
  private val hits = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  private def hit(op: String, p: Path): Unit =
    hits.add((op, Path.getPathWithoutSchemeAndAuthority(p).toString)): Unit

  /** A copy of `s` that records each permission, owner or group lookup. */
  private final class Counted(s: FileStatus) extends FileStatus(s.getLen,
      s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getAccessTime, null, null, null, s.getPath) {
    override def getPermission: FsPermission = { hit("permission", getPath); super.getPermission }
    override def getOwner: String = { hit("owner", getPath); super.getOwner }
    override def getGroup: String = { hit("group", getPath); super.getGroup }
  }

  private def counted(s: FileStatus): FileStatus = s match {
    case c: Counted => c
    case _          => new Counted(s)
  }

  /** Binds the scheme in the session's Hadoop conf. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl",
      classOf[CountingFs].getName)

  /** (call, scheme-less path) of every recorded call `body` makes. */
  def during(body: => Unit): Seq[(String, String)] = {
    hits.clear()
    body
    hits.asScala.toSeq
  }
}

/** What a `Catalog.resolve` reads of the file system, and when its schema
  * cache holds. */
class CatalogSpec extends SparkSpec {

  private def later(p: java.nio.file.Path): Unit = // defeat mtime granularity
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() + 5000)): Unit

  private def visibleDirs(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
      .map(_.toString).toSeq.sorted

  test("a cached resolve lists each directory once, with no listFiles, " +
      "listLocatedStatus or permission lookup") {
    CountingFs.register(spark)
    val dir = Files.createTempDirectory("graft-countfs").toString
    val four = employees.filter(col("emp_id") <= 4)
    four.coalesce(1).write.option("maxRecordsPerFile", 1)
      .parquet(s"$dir/db1/flat.parquet")
    employees.coalesce(1).write.partitionBy("department")
      .parquet(s"$dir/db1/hive.parquet")
    val c = new Catalog(spark, s"${CountingFs.Scheme}://$dir")
    for ((coll, nDirs, rows) <- Seq(("flat", 1, four), ("hive", 6, employees))) {
      val path = s"$dir/db1/$coll.parquet"
      assert(visibleDirs(path).size == nDirs)
      if (coll == "flat")
        assert(Files.list(Paths.get(path)).iterator().asScala
          .count(_.getFileName.toString.startsWith("part-")) == 4)
      c.resolve("db1", coll) // infers
      var df: DataFrame = null
      val calls = CountingFs.during { df = c.resolve("db1", coll) }
      val listed = calls.collect { case ("listStatus", p) => p }.sorted
      assert(listed == visibleDirs(path), calls)
      assert(calls.forall { case (op, _) => op == "listStatus" }, calls)
      assert(df.count() == rows.count())
    }
  }

  test("_SUCCESS and dot files keep the cached schema; a data file with a " +
      "new column is re-inferred") {
    val dir = Files.createTempDirectory("graft-sig").toString
    val path = s"$dir/db1/emps.parquet"
    employees.write.parquet(path)
    val c = new Catalog(spark, dir)
    c.resolve("db1", "emps") // infers
    var df: DataFrame = null
    for (hidden <- Seq("_SUCCESS", ".staging")) {
      later(Files.writeString(Paths.get(path, hidden), "written later\n"))
      assert(jobsDuring { df = c.resolve("db1", "emps") }.isEmpty, hidden)
      assert(df.columns.toSeq == employees.columns.toSeq)
    }

    // parquet infers from the first data file by path, so the new file
    // sorts before the `part-00000-…` files
    val staged = s"$dir/staged"
    employees.limit(1).withColumn("bonus", lit(1.5)).coalesce(1)
      .write.parquet(staged)
    val Seq(part) = Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    later(Files.move(part, Paths.get(path, "part-0-bonus.parquet")))
    assert(jobsDuring { df = c.resolve("db1", "emps") }.nonEmpty)
    assert(df.columns.toSeq == employees.columns.toSeq :+ "bonus")
    assert(df.count() == employees.count() + 1)
  }

  test("a partition value that does not cast to the cached type is re-inferred") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val dir = Files.createTempDirectory("graft-partcast").toString
    val path = s"$dir/db1/emps.parquet"
    employees.withColumn("year", lit(2024)).write.partitionBy("year").parquet(path)
    val c = new Catalog(spark, dir)
    assert(c.resolve("db1", "emps").schema("year").dataType == IntegerType)
    employees.limit(1).write.parquet(s"$path/year=unknown")
    val df = c.resolve("db1", "emps")
    assert(df.schema("year").dataType == StringType)
    assert(df.count() == employees.count() + 1)
  }
}
