package graft

import java.nio.file.{Files, Paths}

import graft.sources.Datasets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Petastorm-layout detection + rank-sharded reads
  * (reference: maggy/core/patching/dataloader.py:99-137). */
class DatasetsSpec extends AnyFunSuite with ScratchRoot {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("datasets-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeDataset(tag: String, nFiles: Int): String = {
    val s = spark
    import s.implicits._
    val dir = scratchDir(s"ds_$tag")
    (1L to 1000L).toDF("id").repartition(nFiles)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("petastorm detection keys on the _common_metadata marker") {
    val dir = writeDataset("detect", 2)
    assert(!Datasets.isPetastorm(spark, dir))
    // petastorm's marker is a footer-only parquet file — Spark consults it
    // during schema resolution, so the fixture must be valid parquet too
    val aDataFile = Paths.get(Datasets.dataFiles(spark, dir).head.stripPrefix("file:"))
    Files.copy(aDataFile, Paths.get(dir, "_common_metadata"))
    assert(Datasets.isPetastorm(spark, dir))
    // the marker must not disturb a normal read (underscore files ignored)
    assert(spark.read.parquet(dir).count() === 1000)
  }

  test("rank shards are disjoint, deterministic, and cover the dataset") {
    val dir = writeDataset("shard", 7)
    val world = 3
    val shards = (0 until world).map(r =>
      Datasets.readShard(spark, dir, r, world).select("id")
        .collect().map(_.getLong(0)).toSet)
    // disjoint
    for (a <- 0 until world; b <- (a + 1) until world)
      assert((shards(a) & shards(b)).isEmpty, s"ranks $a and $b overlap")
    // cover
    assert(shards.reduce(_ ++ _) === (1L to 1000L).toSet)
    // deterministic: same rank → same slice on a fresh listing
    val again = Datasets.readShard(spark, dir, 1, world).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(again === shards(1))
    // file-level pruning: a shard opens ceil(7/3) files at most, not all 7
    assert(Datasets.dataFiles(spark, dir).size === 7)
    assert(Datasets.readShard(spark, dir, 0, world).inputFiles.length <= 3)
  }

  test("partitionBy layouts: listing recurses, shards cover, partition column survives") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("ds_part")
    (1L to 300L).map(i => (i, (i % 3).toString)).toDF("id", "p")
      .repartition(4).write.mode("overwrite").partitionBy("p").parquet(dir)
    val files = Datasets.dataFiles(spark, dir)
    assert(files.nonEmpty, "flat listing would see only partition directories")
    assert(files.forall(_.contains("/p=")), files.take(3).mkString(", "))
    val world = 2
    val shards = (0 until world).map(r => Datasets.readShard(spark, dir, r, world))
    // partition column readable from a leaf-file shard (basePath)
    assert(shards.head.columns.toSeq.contains("p"))
    val ids = shards.map(_.select("id").collect().map(_.getLong(0)).toSet)
    assert((ids(0) & ids(1)).isEmpty)
    assert((ids(0) ++ ids(1)) === (1L to 300L).toSet)
  }

  test("a world larger than the file count still covers without failing") {
    val dir = writeDataset("small", 2)
    val world = 5
    val shards = (0 until world).map(r =>
      Datasets.readShard(spark, dir, r, world).count())
    assert(shards.sum === 1000)
    assert(shards.count(_ == 0) === 3) // ranks beyond the file count read empty
  }
}
