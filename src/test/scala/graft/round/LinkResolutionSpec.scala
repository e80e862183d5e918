package graft.round

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CrawlParams, NodeRow, NodeStatus}

/** A wave's two link resolvers — one driver collect below
  * RoundDriver.MaxDriverLinkRows, a distributed sort above it — must assign
  * the same ids and build the same follow lists. A crawl wave never reaches
  * the gate in a test, so the distributed one runs here alone, on a wave
  * with every case the resolution rules distinguish.
  */
class LinkResolutionSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, appName = "link-resolution-spec")

  test("driver and distributed link resolution give the same new nodes, count and follow lists") {
    import spark.implicits._
    val (a, i) = (NodeStatus.Active, NodeStatus.Inactive)
    def node(id: Long, url: String, status: String) = NodeRow(id, url, graft.extract.Extract.hostOf(url), status, 0L, -1L, -1L)
    val nodes = Seq(
      node(0L, "http://a.com/0", a),
      node(1L, "http://a.com/1", i),
      node(2L, "http://b.com/2", a),
      node(3L, "http://b.com/3", a),
      node(4L, "http://c.com/4", i)
    ).toDF
    val waveLinks = Seq[(Long, String, String)](
      // active author: a known link, an unknown one twice, a self-link, and
      // the unknown link an inactive author adds too
      (0L, a, "http://c.com/4"),
      (0L, a, "http://new.com/x"),
      (0L, a, "http://new.com/x"),
      (0L, a, "http://a.com/0"),
      (0L, a, "http://new.com/shared"),
      // inactive author: the shared unknown link, an unknown link no active
      // author adds, a self-link and a known link twice
      (1L, i, "http://new.com/shared"),
      (1L, i, "http://new.com/inactive-only"),
      (1L, i, "http://a.com/1"),
      (1L, i, "http://c.com/4"),
      (1L, i, "http://c.com/4"),
      (2L, a, "http://new.com/a2"),
      (2L, a, "http://a.com/1"),
      // an author with no outlinks (explode_outer's null link)
      (3L, a, null)
    ).toDF("author", "status", "link")
    val driver = new RoundDriver(spark, new ParquetTableIO(spark, Files.createTempDirectory("links").toString), CrawlParams())

    val (onDriver, nDriver, adjDriver) = driver.resolveLinksOnDriver(waveLinks, nodes, 5L, 2L)
    val (distributed, nDist, adjDist) = driver.resolveLinksDistributed(waveLinks, nodes, 5L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[NodeRow].collect().sortBy(_.id).toSeq
    def lists(m: Map[Long, Array[Long]]) = m.map { case (k, v) => k -> v.toSeq }

    // sorted unknown urls of active authors get 5.., all inactive, added now
    val expectedNodes = Seq("http://new.com/a2", "http://new.com/shared", "http://new.com/x").zipWithIndex.map {
      case (u, k) => NodeRow(5L + k, u, "new.com", i, 2L, -1L, -1L)
    }
    assert(rows(onDriver) === expectedNodes)
    assert(nDriver === 3L)
    assert(lists(adjDriver) === Map(0L -> Seq(4L, 6L, 7L), 1L -> Seq(4L, 6L), 2L -> Seq(1L, 5L)))

    assert(rows(distributed) === rows(onDriver))
    assert(nDist === nDriver)
    assert(lists(adjDist) === lists(adjDriver))
    onDriver.unpersist()
    distributed.unpersist()
  }
}
