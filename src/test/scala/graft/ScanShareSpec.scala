package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.lake.LakeDataset
import graft.model.StorageSpec
import graft.operators.{Graphs, Joins, TextSearch}

/** [[LakeDataset.shareScan]]: the three operators whose plan has two
  * consumers of one source — the bipartite projection's volume probe and
  * self-join, the fuzzy self-join's two sides, BM25 ingest's corpus-scalar
  * aggregate and cell write — evaluate their source ONCE per call. A
  * counting UDF on the source column measures evaluations, with Spark's
  * exchange reuse off so that only the shared scan can avoid a second pass
  * (reuse alone folds the fuzzy self-join's two source scans into one, but
  * not the variant generation above them). In reliable snapshot mode the
  * helper hands back the plan unchanged (no pinned executor blocks), and
  * the answers are the same rows.
  */
class ScanShareSpec extends SparkSpec {

  /** `df` with `c` routed through a UDF that counts every evaluation. */
  private def counted(df: DataFrame, c: String): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator
    val touch = udf { (s: String) => acc.add(1); s }.asNondeterministic()
    (df.withColumn(c, touch(col(c))), acc)
  }

  private def withReliable[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_share").toString
    spark.conf.set("spark.graft.snapshot.mode", "reliable")
    spark.conf.set("spark.graft.snapshot.dir", dir)
    try body
    finally {
      spark.conf.unset("spark.graft.snapshot.mode")
      spark.conf.unset("spark.graft.snapshot.dir")
    }
  }

  /** Rows of one call, with the number of times its source rows were
    * evaluated per source row.
    */
  private def evaluations(n: Long, source: DataFrame, c: String)(
      call: DataFrame => Seq[String]): (Set[String], Double) = {
    val (src, acc) = counted(source, c)
    val rows = call(src)
    (rows.toSet, acc.sum.toDouble / n)
  }

  private val n = 400L
  private def memberships = spark.range(n).select(
    (col("id") % 37).as("user"), concat(lit("item"), (col("id") % 23).cast("string")).as("item"))
  private def names = spark.range(n).select(format_string("n%04d", col("id") % 120).as("name"))
  private def docs = spark.range(n).select((col("id") + 1000L).as("doc_id"),
    concat_ws(" ", lit("alpha"), concat(lit("w"), (col("id") % 17).cast("string")),
      concat(lit("v"), (col("id") % 5).cast("string"))).as("text"))

  private def projection(df: DataFrame): Seq[String] =
    Graphs.projectBipartite(df, "user", "item").collect().map(_.toString).toSeq
  private def selfPairs(df: DataFrame): Seq[String] =
    Joins.fuzzySelfPairs(df, "name").collect().map(_.toString).toSeq
  private def ingest(df: DataFrame): Seq[String] = {
    val root = java.nio.file.Files.createTempDirectory("graft_share_bm25").toString
    val base = spark.range(5).select(col("id").as("doc_id"),
      concat(lit("alpha w"), col("id").cast("string")).as("text"))
    TextSearch.buildIndex(spark, base, "text", "doc_id", nBuckets = 4,
      storage = Some(StorageSpec(root)))
    val idx = TextSearch.addToIndex(TextSearch.open(spark, root), df, "text", "doc_id")
    (idx.postings.toDF.collect().map(_.toString) :+ s"n=${idx.n} len=${idx.totalLen}").toSeq
  }

  private val sites: Seq[(String, () => DataFrame, String, DataFrame => Seq[String])] = Seq(
    ("Graphs.projectBipartite", () => memberships, "item", projection),
    ("Joins.fuzzySelfPairs", () => names, "name", selfPairs),
    ("TextSearch.addToIndex", () => docs, "text", ingest))

  sites.foreach { case (site, source, c, call) =>
    test(s"$site evaluates its source once per call; reliable mode gives the same rows") {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      try {
        val (shared, once) = evaluations(n, source(), c)(call)
        assert(once == 1.0, s"$site evaluated its source $once times per row")
        val (plain, again) = withReliable(evaluations(n, source(), c)(call))
        assert(again > 1.0, s"$site: the counter must see the unshared rescan")
        assert(plain == shared)
        assert(shared.nonEmpty)
      } finally spark.conf.unset("spark.sql.exchange.reuse")
    }
  }

  test("reliable mode: shareScan returns the plan itself, no checkpoint") {
    val df = names
    assert(LakeDataset.shareScan(df) ne df)
    withReliable(assert(LakeDataset.shareScan(df) eq df))
  }
}
