package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset

/** Write a COPIES× copy of a test-data directory, so the registered gates
  * run at scale through the unchanged Bench, Verify and DuckDB oracle:
  *
  * {{{
  * SPARK_GRAFT_COPIES=3 sbt "runMain graft.tools.ScaleData <sfDir> <outDir>"
  * SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=lake_storage_roundtrip sbt "runMain graft.Bench"
  * }}}
  *
  * Each copied table is one parquet file of `COPIES` copies ([[copyOf]]);
  * the dimension tables are copied once, byte for byte. Copy 0 is the
  * source, so COPIES=1 reproduces every table exactly.
  */
object ScaleData {
  /** Copy `i` adds `i × Stride` to every id it offsets. */
  val Stride: Long = 1_000_000_000L

  /** Headroom kept between one copy's ids and the next copy's, for the
    * synthetic ids fixtures add to a source id (the gates add at most
    * +3,000,000): a source id must stay below `Stride - MaxSyntheticOffset`.
    */
  val MaxSyntheticOffset: Long = 900_000_000L

  /** Tables written once: every copy shares them. */
  val Dimensions: Seq[String] = Seq("region", "nation", "customer", "supplier", "part")

  /** Tables written `COPIES` times, each with the id column [[copyOf]] offsets. */
  val Copied: Seq[(String, String)] = Seq(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Copy `i` of a copied table. Orders and lineitem offset their order key
    * together, so copy `i`'s join matches only itself. Documents salt every
    * text token with `c<i>` (and recount `n_chars`), and embeddings scale by
    * `1 + i·1e-4`, so copies are near neighbours, not exact duplicates.
    */
  def copyOf(table: String, src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else {
      val idCol = Copied.toMap.apply(table)
      val shifted = src.withColumn(idCol, col(idCol) + lit(i * Stride))
      table match {
        case "documents" =>
          shifted.withColumn("text", regexp_replace(col("text"), "\\w+", s"$$0c$i"))
            .withColumn("n_chars", length(col("text")).cast("long"))
        case "embeddings" =>
          val f = 1.0f + i * 1e-4f
          shifted.withColumn("embedding", transform(col("embedding"), x => x * lit(f)))
        case _ => shifted
      }
    }

  def write(spark: SparkSession, sfDir: String, outDir: String, copies: Int): Unit = {
    require(copies >= 1, s"SPARK_GRAFT_COPIES must be >= 1, got $copies")
    // A child session that reads parquet µs timestamps as TIMESTAMP_NTZ (the
    // default, which the caller's session may have turned off) writes them
    // back with the source's own type, so DuckDB reads every column of a
    // copy as it reads the source. `events.ts` is the exception: Spark keeps
    // a written column's own type in the file, and gates read that column
    // through `Fixtures.table` as the session-zone TIMESTAMP, so it goes out
    // as INT96, which Spark reads as that type and DuckDB as a plain
    // TIMESTAMP. The UTC zone keeps the cast to it value-identical.
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    Dimensions.foreach { t =>
      Files.copy(Paths.get(sfDir, s"$t.parquet"), out.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Copied.foreach { case (t, idCol) =>
      val raw = s.read.parquet(s"$sfDir/$t.parquet")
      val src = if (t == "events") raw.withColumn("ts", col("ts").cast("timestamp")) else raw
      val maxId = src.agg(max(col(idCol))).head().getLong(0)
      require(maxId < Stride - MaxSyntheticOffset,
        s"$t.$idCol reaches $maxId: copies would collide under stride $Stride")
      writeOneFile((0 until copies).map(copyOf(t, src, _)).reduce(_ unionByName _),
        out.resolve(s"$t.parquet"))
    }
  }

  /** DuckDB reads `<table>.parquet` as one file, so the copy is written as
    * one: a single writer task into a staging directory, then a rename.
    */
  private def writeOneFile(df: DataFrame, dest: Path): Unit = {
    val staging = dest.resolveSibling(s"_staging_${dest.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = scala.util.Using.resource(Files.list(staging)) { files =>
      files.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    }
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    LakeDataset.deleteRecursively(staging)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "2m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, sfDir, outDir, copies)
    spark.stop()
  }
}
