package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet tables bucketed and sorted by a join key whose bucket metadata
  * survives the JVM — the one store behind the crawl state tables
  * (round.BucketedTableIO), the trigram index (queries.TrigramIndex) and the
  * compacted dedup postings (streaming.EpochStore). It stands in for an
  * Iceberg `bucket(B, key)` partition transform.
  *
  * [[write]] goes through `bucketBy().sortBy().saveAsTable` at an explicit
  * path, so a read through the session catalog reports HashPartitioning on
  * the key (key joins and aggregations plan without an exchange) and an
  * InSet on the key prunes file buckets. The last thing a write does is
  * drop `_bucket_spec.properties` beside the parquet (bucket and sort
  * column, bucket count, schema DDL, plus any caller keys): the spec file is
  * the table's visibility marker, and [[read]] in a session whose catalog
  * lacks the table re-registers it from the spec with `CREATE TABLE …
  * CLUSTERED BY … LOCATION` over the existing files — with the bucket count
  * it was WRITTEN with, whatever the reader was configured with. A
  * directory without a spec file reads as plain parquet.
  *
  * Catalog names are `<prefix>_<md5 of the table path>` — collision-
  * resistant, unlike String.hashCode (two paths colliding there would
  * silently cross-wire reads, and abs(Int.MinValue) is negative).
  */
object BucketedParquet {

  val SpecFile = "_bucket_spec.properties"

  /** First 16 hex digits of the md5 of `s`. */
  def digest(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(16)

  private def tableName(prefix: String, path: String): String = s"${prefix}_${digest(path)}"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def specPath(path: String) = new Path(s"$path/$SpecFile")

  /** Write `df` at `path` in `buckets` buckets of `bucketCol`, sorted by
    * `sortCol` within each; `extra` keys are stored in the spec file.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      prefix: String,
      bucketCol: String,
      sortCol: String,
      buckets: Int,
      extra: Map[String, String] = Map.empty
  ): Unit = {
    val f = fs(spark, path)
    val tbl = tableName(prefix, path)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // a crash during the overwrite must not leave the old spec vouching for
    // half-written files
    f.delete(specPath(path), false)
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(tbl)
    val props = new java.util.Properties()
    extra.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("bucketCol", bucketCol)
    props.setProperty("sortCol", sortCol)
    props.setProperty("buckets", buckets.toString)
    props.setProperty("schemaDdl", df.schema.toDDL)
    val out = f.create(specPath(path), true)
    try props.store(out, "graft bucketed-table spec") finally out.close()
  }

  /** The spec file at `path`, if a completed write left one. */
  def readSpec(spark: SparkSession, path: String): Option[java.util.Properties] = {
    val f = fs(spark, path)
    if (!f.exists(specPath(path))) None
    else {
      val props = new java.util.Properties()
      val in = f.open(specPath(path))
      try props.load(in) finally in.close()
      Some(props)
    }
  }

  /** The table at `path`: from the catalog, re-registered from its spec
    * file, or — with no spec file — as plain parquet.
    *
    * The on-disk spec is NOT trusted for SQL interpolation: its bucket and
    * sort columns must be the ones the caller expects, the bucket count
    * must be a sane positive int, the DDL is round-tripped through
    * StructType (rejecting anything but a plain column list), and the
    * LOCATION literal is single-quote-escaped — a crafted spec file or a
    * path containing `'` must not be able to break or redirect the
    * statement. Spark derives each file's bucket id from its `_NNNNN` name
    * suffix, so the re-created table plans exactly like the original one.
    */
  def read(spark: SparkSession, path: String, prefix: String, bucketCol: String, sortCol: String): DataFrame = {
    val tbl = tableName(prefix, path)
    if (spark.catalog.tableExists(tbl)) spark.table(tbl)
    else readSpec(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(props) =>
        require(
          props.getProperty("bucketCol") == bucketCol && props.getProperty("sortCol") == sortCol,
          s"bucket spec at $path declares (${props.getProperty("bucketCol")}, ${props.getProperty("sortCol")}); " +
            s"expected ($bucketCol, $sortCol) — refusing to register a mismatched table"
        )
        val nBuckets = props.getProperty("buckets").toInt
        require(nBuckets > 0 && nBuckets <= (1 << 20), s"implausible bucket count $nBuckets at $path")
        val schemaDdl = org.apache.spark.sql.types.StructType.fromDDL(props.getProperty("schemaDdl")).toDDL
        spark.sql(
          s"""CREATE TABLE $tbl ($schemaDdl)
             |USING parquet
             |CLUSTERED BY ($bucketCol)
             |SORTED BY ($sortCol)
             |INTO $nBuckets BUCKETS
             |LOCATION '${path.replace("'", "''")}'""".stripMargin
        )
        spark.table(tbl)
    }
  }

  /** Remove the table at `path`: its catalog entry and its files. */
  def delete(spark: SparkSession, path: String, prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(prefix, path)}")
    fs(spark, path).delete(new Path(path), true)
  }
}
