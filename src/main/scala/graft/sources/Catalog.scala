package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

import scala.util.Try

/** `(db, collection)` → DataFrame resolution — the Spark analog of the
  * reference's `client[db_name][coll_name]` addressing
  * (/root/reference/No_Sql.py:389-390, defaults db="testdb",
  * coll="testcoll" at app_server.py:76-77).
  *
  * Layout: `root/<db>/<collection>.<ext>` when the db directory exists,
  * falling back to `root/<collection>.parquet` for flat layouts (the
  * driver's TESTDATA.md contract). Explicit registrations win over both.
  *
  * Formats: parquet and orc (columnar, self-describing — the scale paths),
  * json (newline-delimited documents — the closest analog of a Mongo
  * collection: extra/missing fields tolerated), csv (header + inferred
  * schema). Every format is read the same way: `spark.read.format(f)` with
  * the memoized schema, so Catalyst pushdown reaches every source that
  * supports it.
  */
final class Catalog(spark: SparkSession, root: String) {

  private val registered =
    scala.collection.concurrent.TrieMap.empty[(String, String), () => DataFrame]

  /** Schema inference costs real work on every format: json and csv scan
    * the data, parquet runs a footer-merge Spark job, orc reads footers.
    * Doing it on every resolve() (health() resolves too) would add that
    * work to every request, so the first resolution memoizes the inferred
    * schema per (db, collection) and later reads plan straight from it.
    * The entry is signed by max(mtime) and total length of the files the
    * read itself scans, taken from the file index Spark lists for it: a
    * resolve lists once, and `_SUCCESS` and dot files, which the scan
    * skips, do not count. A resolve reads through the cached schema and
    * compares signatures; any append, rewrite, or file add/remove returns
    * a schema-inferring read instead, which replaces the entry.
    * Same-second, same-size rewrites are the one residual blind spot,
    * shared with every mtime-based cache. Rows are never cached. */
  private val inferredSchemas = scala.collection.concurrent.TrieMap
    .empty[(String, String), ((Long, Long), StructType)]

  /** Explicitly bind (db, collection) to a frame factory (e.g. a view). */
  def register(db: String, collection: String)(f: => DataFrame): Unit = {
    registered.put((db, collection), () => f)
    inferredSchemas.remove((db, collection)): Unit
  }

  def resolve(db: String, collection: String): DataFrame =
    registered.get((db, collection)).map(_.apply()).getOrElse(readPath(db, collection))

  private def readPath(db: String, collection: String): DataFrame = {
    val candidates = Seq(
      (s"$root/$db/$collection.parquet", "parquet"),
      (s"$root/$db/$collection.orc", "orc"),
      (s"$root/$db/$collection.json", "json"),
      (s"$root/$db/$collection.csv", "csv"),
      (s"$root/$collection.parquet", "parquet"))
    candidates.find { case (p, _) => exists(p) } match {
      case Some((p, format)) =>
        // csv's inferSchema only acts when no schema is given
        def reader = spark.read.format(format).options(
          if (format == "csv") Map("header" -> "true", "inferSchema" -> "true")
          else Map.empty[String, String])
        inferredSchemas.get((db, collection)).flatMap { case (sig, schema) =>
          // a changed collection may not read under its old schema at all
          // (a new partition value that does not cast)
          Try(reader.schema(schema).load(p)).toOption.filter(signature(_).contains(sig))
        }.getOrElse {
          val df = reader.load(p)
          signature(df).foreach(sig => inferredSchemas.put((db, collection), (sig, df.schema)))
          df
        }
      case None =>
        throw new NoSuchElementException(
          s"no table for ($db, $collection) under $root " +
            s"(tried ${candidates.map(_._1).mkString(", ")})")
    }
  }

  /** (max file mtime, total file bytes) of the files `df` scans, off the
    * file index Spark listed when the frame was built. */
  private def signature(df: DataFrame): Option[(Long, Long)] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(HadoopFsRelation(
          index: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        val files = index.allFiles()
        (files.map(_.getModificationTime).maxOption.getOrElse(0L), files.map(_.getLen).sum)
    }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
