package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

/** End-to-end integration: the full 14-asset DAG materializes at sf0.001
  * with consistent cross-asset row counts, all index checks passing and
  * pinned asset contents; a failing asset is reported by name once every
  * other branch has settled.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private lazy val firstRun = {
    val out = Files.createTempDirectory("graft_pipeline_spec").toString
    (out, Pipeline.run(spark, sf, out))
  }

  /** S25-shaped order-independent digest: (row count, sum of the 32-bit
    * md5 prefixes of each row's name-sorted, null-sentineled columns cast
    * to string).
    */
  private def digest(df: DataFrame): (Long, Long) = {
    val rowStr = concat_ws(
      "|",
      df.columns.sorted.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*
    )
    val r = df
      .select(conv(substring(md5(rowStr), 1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Each written asset's [[digest]] at sf0.001, recorded from the serial
    * (one asset at a time) pipeline.
    */
  private val pinned = Map(
    "artist_index" -> (150L, 312709633992L),
    "artists" -> (106L, 235881870792L),
    "countries" -> (25L, 55104141548L),
    "articles" -> (256L, 577006826814L),
    "releases" -> (601L, 1230894454664L),
    "tracks" -> (3410L, 7306883219404L),
    "genres" -> (13L, 35155872618L),
    "genres_articles" -> (34L, 74665983897L),
    "wikipedia_articles" -> (290L, 670026606387L),
    "vector_db" -> (290L, 636566171896L),
    "graph_nodes" -> (131L, 264884574345L),
    "graph_edges" -> (106L, 224460954854L),
    "communities" -> (131L, 275966245620L)
  )

  test("full DAG materializes with consistent counts and green checks") {
    val (out, (counts, report)) = firstRun
    val m                       = counts.toMap

    // every asset materialized non-empty (unresolved_countries is a
    // reconciliation count and legitimately 0)
    (m.keySet - "unresolved_countries").foreach { k =>
      assert(m(k) > 0, s"asset $k is empty")
    }

    // cross-asset consistency
    assert(m("graph_nodes") == m("artists") + m("countries"))
    assert(m("graph_edges") == m("artists")) // one FROM_COUNTRY edge per artist
    assert(m("communities") == m("graph_nodes")) // hierarchy labels every node
    assert(m("wikipedia_articles") == m("articles") + m("genres_articles"))
    assert(m("vector_db") == m("wikipedia_articles")) // upsert keeps one row per chunk
    assert(m("tracks") >= m("releases")) // every chosen release has >= 1 track

    // the five data-quality checks all pass
    val checks = report.collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(checks.size == 5 && checks.values.forall(identity), checks.toString)

    // hierarchy output carries all three levels
    val comm = spark.read.parquet(s"$out/communities")
    assert(
      comm.columns.toSet == Set("id", "community_l0", "community_l1", "community_l2")
    )

    // rerun into the same outDir: overwrite/reset semantics (S16) make the
    // DAG idempotent — identical counts, no residue from the first run
    val (counts2, _) = Pipeline.run(spark, sf, out)
    assert(counts2 == counts)
  }

  test("every written asset's contents match its pinned sf0.001 digest") {
    val (out, _) = firstRun
    pinned.foreach { case (a, want) =>
      assert(digest(spark.read.parquet(s"$out/$a")) == want, s"asset $a")
    }
  }

  test("a failed asset is named, and run throws only after the other branches commit") {
    // tracks is the only asset whose fixtures read lineitem
    val data = Files.createTempDirectory("graft_pipeline_no_lineitem")
    Files.list(Paths.get(sf)).iterator().asScala
      .filterNot(_.getFileName.toString == "lineitem.parquet")
      .foreach(p => Files.copy(p, data.resolve(p.getFileName)))
    val out = Files.createTempDirectory("graft_pipeline_spec_fail").toString
    val e   = intercept[Pipeline.AssetFailure](Pipeline.run(spark, data.toString, out))
    assert(e.asset == "tracks" && e.getMessage.contains("'tracks'"), e.getMessage)
    assert(e.getCause != null && e.getCause.getMessage.contains("lineitem"), e.getCause)
    // the communities branch does not read lineitem: it committed before run threw
    assert(digest(spark.read.parquet(s"$out/communities")) == pinned("communities"))
  }
}
