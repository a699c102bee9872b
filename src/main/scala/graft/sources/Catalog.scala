package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
    * work to every request, so the first resolution
    * memoizes the inferred schema per (db, collection) and later reads
    * plan straight from it. The entry is keyed by a signature over the
    * source's FILE LISTING — max(mtime) and total length of the contained
    * files, not the top-level path's mtime: rewriting a part file in
    * place inside a directory-backed source does not bump the directory
    * mtime on most filesystems, so a path-mtime key would serve the stale
    * schema indefinitely. Any append, rewrite, or file add/remove changes
    * the signature and triggers one re-inference — one extra FS listing
    * per resolve buys staleness-freedom. Rows are never cached: every read
    * lists the files afresh. */
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
        val schema = cachedSchema((db, collection), p, reader.load(p).schema)
        reader.schema(schema).load(p)
      case None =>
        throw new NoSuchElementException(
          s"no table for ($db, $collection) under $root " +
            s"(tried ${candidates.map(_._1).mkString(", ")})")
    }
  }

  private def cachedSchema(key: (String, String), path: String,
      infer: => StructType): StructType = {
    val sig = listingSignature(path)
    inferredSchemas.get(key) match {
      case Some((t, s)) if t == sig => s
      case _ =>
        val s = infer
        inferredSchemas.put(key, (sig, s))
        s
    }
  }

  /** (max file mtime, total file bytes) over the path's recursive listing —
    * a file path signs itself. Both components move on any content change
    * a schema could depend on; same-second same-size rewrites are the one
    * residual blind spot, shared with every mtime-based cache. */
  private def listingSignature(path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var maxM = 0L; var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      maxM = math.max(maxM, st.getModificationTime)
      bytes += st.getLen
    }
    (maxM, bytes)
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
