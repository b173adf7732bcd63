package graft.pipeline

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.graph.GraphOps
import graft.io.TableIO
import graft.sources.Fixtures

/** The orchestrator — the reference's Dagster asset DAG
  * (defs/definitions.py:20-32, README.md:282-295). As Dagster does, each
  * asset starts as soon as the assets it reads have committed, so the
  * DAG's independent branches run at once, each on its own thread of the
  * global pool, sharing one SparkSession:
  *
  * {{{
  *   artist_index ─┬─ checks report
  *                 └─ artists ─┬─ countries ─┬─ unresolved_countries count
  *                             │             ├─ graph_nodes ─┬─ communities
  *                             │             └─ graph_edges ─┘
  *                             ├─ releases ─ tracks
  *                             ├─ articles ───────────────┬─ wikipedia_articles ─ vector_db
  *                             └─ genres ─ genres_articles ┘
  * }}}
  *
  * Every asset is materialized to Parquet in its own directory through
  * [[graft.io.TableIO]]'s staged swap, and downstream assets read the
  * committed copy. No branch may enter a [[graft.Tuning]] profile: its
  * confs are session-global, so they would change the plans of every
  * branch running beside it. Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.pipeline.Pipeline [outDir]"
  *
  * Prints one JSON line of per-asset row counts + check verdicts.
  */
object Pipeline {

  /** A failed asset build: names the asset and keeps the original cause. */
  final class AssetFailure(val asset: String, cause: Throwable)
      extends RuntimeException(s"pipeline asset '$asset' failed: $cause", cause)

  /** The order of [[run]]'s row counts. */
  private val CountOrder: Seq[String] = Seq("artist_index", "artists", "countries",
    "unresolved_countries", "articles", "releases", "tracks", "genres", "genres_articles",
    "wikipedia_articles", "vector_db", "graph_nodes", "graph_edges", "communities")

  /** Runs `body` as the build of `asset`. Every throwable is wrapped, fatal
    * ones too: a branch future that ends in a fatal error never completes,
    * and [[run]] would wait for it forever.
    */
  private def named[T](asset: String)(body: => T): T =
    try body
    catch {
      case e: AssetFailure => throw e
      case e: Throwable    => throw new AssetFailure(asset, e)
    }

  /** Runs the DAG; returns (asset → committed row count, check report).
    *
    * Each downstream asset reads the materialized parquet of its upstream
    * (as the reference's I/O managers do), not the unmaterialized lineage —
    * otherwise the index dedup chain would be re-executed once per
    * consumer. The check report is collected by its own branch and
    * returned as a local frame.
    *
    * Returns or throws only once every branch has settled, so no branch is
    * still writing under `outDir` afterwards. A failure throws the failed
    * asset's [[AssetFailure]]; assets downstream of it never start. When
    * independent branches fail, the other failures ride along as
    * suppressed exceptions.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): (Seq[(String, Long)], DataFrame) = {
    val counts = TrieMap.empty[String, Long]
    def commit(asset: String)(build: => DataFrame): DataFrame = named(asset) {
      val path = s"$outDir/$asset"
      counts.put(asset, TableIO.writeParquet(build, path))
      spark.read.parquet(path)
    }
    // a branch holds its thread while Spark runs its jobs
    def after[A, B](upstream: Future[A])(body: A => B): Future[B] =
      upstream.map(a => blocking(body(a)))

    val index = Future(blocking(
      commit("artist_index")(Assets.buildArtistIndex(Fixtures.artistIndexRaw(spark, sfDir)))))

    val report = after(index) { idx =>
      named("checks") {
        val r = Checks.artistIndexReport(idx)
        spark.createDataFrame(r.collect().toSeq.asJava, r.schema)
      }
    }

    val artists = after(index) { idx =>
      commit("artists")(Assets.extractArtists(idx, Fixtures.entityFixture(spark, sfDir)))
    }

    val countries = after(artists) { a =>
      val (lineage, unresolvedLineage) = named("countries") {
        val resolved = Engine
          .table(spark, sfDir, "nation")
          .select(concat(lit("QC"), col("n_nationkey").cast("string")).as("id"),
            col("n_name").as("name"))
        Assets.extractCountries(a, resolved)
      }
      (commit("countries")(lineage), unresolvedLineage)
    }
    val unresolved = after(countries) { case (_, lineage) =>
      named("unresolved_countries")(counts.put("unresolved_countries", lineage.count()))
    }
    // graph_nodes and graph_edges both read artists + countries: built side by side
    val graphInputs = artists.zip(countries)
    val nodes = after(graphInputs) { case (a, (c, _)) =>
      commit("graph_nodes")(Assets.graphTables(a, c)._1)
    }
    val edges = after(graphInputs) { case (a, (c, _)) =>
      commit("graph_edges")(Assets.graphTables(a, c)._2)
    }
    val communities = after(nodes.zip(edges)) { case (n, e) =>
      commit("communities")(communityLevels(n, e))
    }

    // releases → tracks branch (extract_releases.py / extract_tracks.py)
    val tracks = after(artists) { a =>
      val releases = commit("releases")(
        Assets.extractReleases(a, Fixtures.releaseGroupFixture(spark, sfDir)))
      commit("tracks")(
        Assets.extractTracks(
          releases,
          Fixtures.releaseCandidatesFixture(spark, sfDir),
          Fixtures.trackFixture(spark, sfDir)
        )
      )
    }

    val articles = after(artists) { a =>
      commit("articles")(Assets.extractArticles(a, Fixtures.articleFixture(spark, sfDir)))
    }

    // genres branch (extract_genres.py / extract_genres_articles.py)
    val genreArticles = after(artists) { a =>
      val genres = commit("genres")(Assets.extractGenres(a))
      commit("genres_articles")(
        Assets.genreArticleChunks(genres, Engine.table(spark, sfDir, "documents")))
    }

    // merged article corpus (merge_wikipedia_articles.py) + vector ingest
    val vectorDb = after(articles.zip(genreArticles)) { case (art, gen) =>
      val merged = commit("wikipedia_articles")(
        Assets.mergeArticles(art.withColumn("entity_type", lit("artist")), gen))
      commit("vector_db")(Assets.vectorIngest(merged))
    }

    // zip fails fast, so every future is awaited, not just the sinks
    val all = Seq(index, artists, countries, unresolved, nodes, edges, communities, articles,
      tracks, genreArticles, vectorDb, report)
    all.foreach(Await.ready(_, Duration.Inf))
    val failures = all.flatMap(_.value.flatMap(_.failed.toOption)).distinct
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    (CountOrder.map(a => a -> counts(a)), report.value.get.get)
  }

  /** Multi-level communities over the artist—country graph: the same
    * resolution-parameterized sweep the quality face measures (g8c) —
    * LPA seeded, γ ∈ [2.0, 0.5, 0.1], FULL Leiden per level (mutual-merge
    * fixed point + gated refinement phase, r12), each level seeding the
    * next (the deterministic re-expression of the reference's
    * 3-resolution Leiden run, detect_communities.py:218-246; SURVEY
    * §7.4). The pipeline and quality faces consume ONE algorithm.
    */
  private def communityLevels(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")
      )
      .distinct()
    GraphOps
      .resolutionHierarchy(
        nodes.select(col("node_id").as("id")),
        und,
        Seq((2L, 1L), (1L, 2L), (1L, 10L)),
        3,
        4
      )
      .select(
        col("id"),
        col("community_0").as("community_l0"),
        col("community_1").as("community_l1"),
        col("community_2").as("community_l2")
      )
  }

  def main(args: Array[String]): Unit = {
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.headOption.getOrElse(s"${sys.props("java.io.tmpdir")}/graft_pipeline")
    val spark  = Engine.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (counts, report) = run(spark, sfDir, outDir)
    val countsJson = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val checksJson = report
      .collect()
      .map(r => s""""${r.getString(0)}":${r.getBoolean(2)}""")
      .mkString(",")
    println(s"""{"assets":{$countsJson},"checks":{$checksJson}}""")
    spark.stop()
  }
}
