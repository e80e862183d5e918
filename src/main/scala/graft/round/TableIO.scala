package graft.round

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.BucketedParquet

/** Snapshot-table IO behind a thin trait (SURVEY.md §7.1).
  *
  * The sandbox has no Iceberg runtime jar, so the shipped implementation is
  * plain Parquet with per-round snapshot directories and an explicit
  * completion marker — the same semantics an Iceberg snapshot commit gives
  * (atomic visibility of a round's state, resumability from the last
  * complete round). An Iceberg-backed implementation drops in behind the
  * same trait where the runtime exists (MERGE INTO replaces
  * overwrite-per-round).
  */
trait TableIO {
  def write(round: Long, name: String, df: DataFrame): Unit
  def read(round: Long, name: String): DataFrame
  def exists(round: Long, name: String): Boolean
  def commitRound(round: Long): Unit

  /** Where round `round`'s tables live, as error messages name it. */
  def roundDir(round: Long): String

  /** Largest round with a commit marker, or -1. */
  def lastCompleteRound(): Long
}

class ParquetTableIO(spark: SparkSession, val root: String) extends TableIO {
  protected val fs: org.apache.hadoop.fs.FileSystem = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(root),
    spark.sparkContext.hadoopConfiguration
  )
  override def roundDir(round: Long): String = s"$root/r=$round"
  private def marker(round: Long) =
    new org.apache.hadoop.fs.Path(s"${roundDir(round)}/_COMPLETE")

  override def write(round: Long, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"${roundDir(round)}/$name")

  override def read(round: Long, name: String): DataFrame =
    spark.read.parquet(s"${roundDir(round)}/$name")

  override def exists(round: Long, name: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"${roundDir(round)}/$name/_SUCCESS"))

  override def commitRound(round: Long): Unit = {
    val out = fs.create(marker(round), true)
    out.close()
  }

  override def lastCompleteRound(): Long = {
    val base = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(base)) return -1L
    fs.listStatus(base)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("r=") => s.substring(2).toLong }
      .filter(r => fs.exists(marker(r)))
      .foldLeft(-1L)(math.max)
  }
}

/** Host-hash-bucketed state tables (SURVEY.md §4 items 1/3): the big state
  * tables are written CLUSTERED into `buckets` files by their join key —
  * frontier tables by url, edges by src, walks by their start node, nodes
  * by url, visits by node — through [[graft.core.BucketedParquet]]. A cold
  * read then reports HashPartitioning, so the seen-anti-join (enqueued ⋈
  * fetched on url), the link-resolution join (links ⋈ nodes on url), and
  * walk-store aggregations by start run WITHOUT an exchange on the bucketed
  * key, in a fresh JVM too, where the catalog entry is re-registered from
  * the spec file beside the parquet (asserted by BucketedIOSpec). Delta-log
  * tables and markers stay plain parquet (they are O(changes) and always
  * broadcast-joined).
  */
class BucketedTableIO(spark: SparkSession, root: String, buckets: Int = 32)
    extends ParquetTableIO(spark, root) {

  /** bucket column + within-bucket sort for each big state table.
    * `extracted` (url-bucketed, url-SORTED) is the fetch-lookup store: the
    * per-round batch fetch pushes an InSet(url) into its scan, so Spark
    * prunes to the buckets holding batch urls and parquet min/max skips
    * row groups outside their url ranges — per-round fetch IO O(batch),
    * not O(corpus).
    */
  private val spec: Map[String, (String, String)] = Map(
    "fetched" -> (("url", "url")),
    "enqueued" -> (("url", "url")),
    "edges" -> (("src", "dst")),
    "walks" -> (("start", "walkId")),
    "nodes" -> (("url", "id")),
    "visits" -> (("node", "node")),
    "extracted" -> (("url", "url"))
  )

  override def write(round: Long, name: String, df: DataFrame): Unit = spec.get(name) match {
    case Some((bucketCol, sortCol)) =>
      BucketedParquet.write(spark, df, s"${roundDir(round)}/$name", "graft", bucketCol, sortCol, buckets)
    case None => super.write(round, name, df)
  }

  override def read(round: Long, name: String): DataFrame = spec.get(name) match {
    case Some((bucketCol, sortCol)) =>
      BucketedParquet.read(spark, s"${roundDir(round)}/$name", "graft", bucketCol, sortCol)
    case None => super.read(round, name)
  }
}
