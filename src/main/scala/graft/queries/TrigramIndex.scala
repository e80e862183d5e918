package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BucketedParquet

/** Persisted trigram full-text index — the production shape q44's scaladoc
  * promises (the reference builds an FTS5 trigram index it never reads,
  * pkg/store/schema.sql:12-25; q44 gave it a read path, but rebuilt the
  * postings per query).
  *
  * Index pass (one-time, O(corpus)): distinct (g, doc_id) postings written
  * as a parquet table BUCKETED AND SORTED BY `g` — the inverted-index
  * layout. Probe pass (per query, O(query trigrams)): the query's tiny
  * trigram set pushes an InSet(g) into the scan, so Spark prunes to the ≤
  * |query trigrams| buckets holding those posting lists and the within-
  * bucket sort lets parquet min/max stats skip row groups outside their
  * ranges — the same O(batch)-IO discipline as the bucketed fetch store
  * (TableIO.scala N17), asserted at task-metrics level by
  * TrigramIndexSpec. At 100 TB the probe is the ONLY per-query cost; the
  * build amortizes over every search (an Iceberg `bucket(B, g)` transform
  * plays the same role on a real cluster).
  *
  * The postings are a [[graft.core.BucketedParquet]] table, so bucket
  * metadata survives the JVM; its spec file also records the corpus
  * fingerprint and is the index's visibility marker.
  */
object TrigramIndex {

  /** Same indexing-prefix bound as q44 (a document's first 2000 positions),
    * so index-backed search is value-identical to the scan-based query.
    */
  val MaxPositions = 2000

  /** Deterministic per-corpus index location (tmpdir, keyed by the corpus
    * dir digest AND the os user) — lets q48 build once and probe on every
    * later call/rep. The user scoping keeps multi-user hosts from fighting
    * over one dir (B cannot delete A's stale index, and must not silently
    * serve it). Single WRITER per path is assumed (build() overwrites the
    * dir): concurrent builders of the same corpus need an external
    * mutex or an explicit per-job `path` — in production this seam is a
    * real catalog with transactional swap, as the Iceberg note in
    * round/TableIO.scala already records.
    */
  def defaultPath(sfDir: String): String =
    new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_tri_${BucketedParquet.digest(sfDir + ":" + sys.props.getOrElse("user.name", ""))}"
    ).getAbsolutePath

  /** Distinct (doc_id, g) character-trigram postings of `docs`. */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .select(
        col("doc_id"),
        explode(
          array_distinct(
            expr(s"transform(sequence(1, least(length(t) - 2, $MaxPositions)), i -> substring(t, i, 3))")
          )
        ).as("g")
      )

  /** Fingerprint of a parquet corpus dir (file count, total bytes, max
    * mtime — one listStatus, no data read): stored in the index spec so a
    * corpus regenerated in place invalidates the index instead of serving
    * postings of the previous corpus.
    */
  def corpusFingerprint(spark: SparkSession, corpusPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(corpusPath)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) "absent"
    else {
      val files = f.listStatus(p).filter(_.isFile)
      val maxM = if (files.isEmpty) 0L else files.map(_.getModificationTime).max
      s"${files.length}:${files.map(_.getLen).sum}:$maxM"
    }
  }

  /** One-time index pass: write the postings of `docs` at `path`.
    * `corpusStamp` (a [[corpusFingerprint]]) is recorded in the spec file;
    * [[current]] validates it before serving the index.
    */
  def build(spark: SparkSession, docs: DataFrame, path: String, buckets: Int = 32, corpusStamp: String = ""): Unit =
    BucketedParquet.write(spark, postingsOf(docs), path, "graft_tri", "g", "g", buckets, Map("corpus" -> corpusStamp))

  /** True iff a built index exists at `path` (spec file present). */
  def exists(spark: SparkSession, path: String): Boolean = BucketedParquet.readSpec(spark, path).nonEmpty

  /** True iff a built index exists at `path` AND was built from a corpus
    * with this fingerprint — callers rebuild on mismatch instead of
    * serving a stale index for a corpus regenerated in place.
    */
  def current(spark: SparkSession, path: String, corpusStamp: String): Boolean =
    BucketedParquet.readSpec(spark, path).exists(_.getProperty("corpus", "") == corpusStamp)

  /** The postings table, re-registered in a fresh catalog from the spec. */
  def postings(spark: SparkSession, path: String): DataFrame =
    BucketedParquet.read(spark, path, "graft_tri", "g", "g")

  /** Probe: rank docs by how many of the query's trigrams they contain
    * (q44's scoring, off the index instead of a corpus scan). Output
    * (doc_id, n_match, score) — byte-compatible with q44.
    */
  def search(spark: SparkSession, path: String, query: String, topK: Int = 10): DataFrame = {
    val qTri = query.toLowerCase.sliding(3).filter(_.length == 3).toSeq.distinct
    require(qTri.nonEmpty, s"query '$query' has no trigrams")
    postings(spark, path)
      // isin over a literal set reaches the scan as InSet(g): bucket
      // pruning + row-group skipping make the read O(query trigrams)
      .filter(col("g").isin(qTri: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_match"))
      .withColumn("score", round(col("n_match").cast("double") / lit(qTri.size.toDouble), 4))
      .orderBy(col("n_match").desc, col("doc_id").asc)
      .limit(topK)
  }
}
