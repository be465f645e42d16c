package graft

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.nio.file.{Files, Paths}

import graft.sources.TfRecordFormat
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** TFRecord DSv2 source/sink: wire-format codec, full-fidelity round-trips,
  * schema inference, column pruning reaching the decoder, and corruption
  * detection. Format provenance: the reference feeds feature-store TFRecord
  * datasets to the ablation path (reference: maggy/ablation/ablator/
  * loco.py:53-74); framing + Example proto shape are public TensorFlow
  * formats (io/record_writer.cc, core/example/feature.proto).
  */
class TfRecordSpec extends AnyFunSuite with ScratchRoot {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("tfrecord-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String =
    scratchDir(s"tfr_$tag")

  test("framing: records round-trip through the masked-CRC32C framing") {
    val payloads = Seq("", "a", "hello tfrecord", "x" * 10000)
      .map(_.getBytes("UTF-8"))
    val buf = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    payloads.foreach(TfRecordFormat.writeRecord(out, _))
    out.flush()
    val in = new DataInputStream(new java.io.ByteArrayInputStream(buf.toByteArray))
    val back = Iterator.continually(TfRecordFormat.readRecord(in))
      .takeWhile(_.isDefined).map(_.get).toSeq
    assert(back.map(new String(_, "UTF-8")) === payloads.map(new String(_, "UTF-8")))
  }

  test("framing: corrupt payload byte fails the CRC loudly") {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    TfRecordFormat.writeRecord(out, "payload-bytes".getBytes("UTF-8"))
    out.flush()
    val bytes = buf.toByteArray
    bytes(14) = (bytes(14) ^ 0x1).toByte // inside the payload (after 12-byte header)
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val e = intercept[IOException](TfRecordFormat.readRecord(in))
    assert(e.getMessage.contains("CRC"))
    // and verifyCrc=false skips the check (framing still intact)
    val in2 = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    assert(TfRecordFormat.readRecord(in2, verifyCrc = false).isDefined)
  }

  test("round-trip: every supported type survives write → read bit-exact") {
    val s = spark
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("small", IntegerType),
      StructField("f", FloatType),
      StructField("name", StringType),
      StructField("blob", BinaryType),
      StructField("longs", ArrayType(LongType)),
      StructField("floats", ArrayType(FloatType)),
      StructField("words", ArrayType(StringType))))
    val rows = Seq(
      Row(1L, 7, 1.5f, "alpha", Array[Byte](1, 2, 3), Seq(1L, 2L, 3L),
        Seq(0.25f, -2.0f), Seq("a", "b")),
      Row(2L, -1, -0.0f, "βeta", Array[Byte](), Seq.empty[Long],
        Seq.empty[Float], Seq.empty[String]),
      Row(3L, null, null, null, null, null, null, null))
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
    val dir = tmpDir("types")
    df.write.mode("overwrite").format("tfrecord").save(dir)
    val back = s.read.format("tfrecord").schema(schema).load(dir)
      .orderBy("id").collect()
    assert(back.length === 3)
    val r1 = back(0)
    assert(r1.getLong(0) === 1L && r1.getInt(1) === 7 && r1.getFloat(2) === 1.5f)
    assert(r1.getString(3) === "alpha")
    assert(r1.getAs[Array[Byte]](4).toSeq === Seq[Byte](1, 2, 3))
    assert(r1.getSeq[Long](5) === Seq(1L, 2L, 3L))
    assert(r1.getSeq[Float](6) === Seq(0.25f, -2.0f))
    assert(r1.getSeq[String](7) === Seq("a", "b"))
    val r2 = back(1)
    assert(r2.getString(3) === "βeta")
    assert(r2.getSeq[Long](5).isEmpty && r2.getSeq[String](7).isEmpty)
    val r3 = back(2)
    (1 to 7).foreach(i => assert(r3.isNullAt(i), s"field $i of null row"))
  }

  test("schema inference recovers names, types and arity") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("infer")
    Seq((1L, "one", Seq(1L, 2L)), (2L, "two", Seq(3L, 4L)))
      .toDF("id", "label", "vals")
      .write.mode("overwrite").format("tfrecord").save(dir)
    val inferred = s.read.format("tfrecord").load(dir)
    val byName = inferred.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("id") === LongType)
    assert(byName("label") === StringType)
    assert(byName("vals") === ArrayType(LongType, containsNull = false))
    assert(inferred.count() === 2)
  }

  test("column pruning reaches the scan: pruned ReadSchema in the plan") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("prune")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "weight")
      .write.mode("overwrite").format("tfrecord").save(dir)
    val q = s.read.format("tfrecord")
      .schema("id BIGINT, tag STRING, weight BIGINT").load(dir)
      .select(sum($"weight").as("w"))
    val scan = q.queryExecution.executedPlan.toString()
    assert(scan.contains("ReadSchema: struct<weight:bigint>"),
      s"expected pruned ReadSchema in plan:\n$scan")
    assert(q.collect().head.getLong(0) === 30L)
  }

  test("parallelism: one partition per shard file") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("shards")
    (1L to 100L).toDF("id").repartition(8)
      .write.mode("overwrite").format("tfrecord").save(dir)
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".tfrecord"))
    assert(files.length === 8)
    val back = s.read.format("tfrecord").schema("id BIGINT").load(dir)
    assert(back.rdd.getNumPartitions === 8)
    assert(back.agg(sum("id")).collect().head.getLong(0) === 5050L)
  }

  test("overwrite truncates prior contents") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("trunc")
    (1L to 50L).toDF("id").write.mode("overwrite").format("tfrecord").save(dir)
    (1L to 5L).toDF("id").write.mode("overwrite").format("tfrecord").save(dir)
    assert(s.read.format("tfrecord").schema("id BIGINT").load(dir).count() === 5)
  }

  test("gzip shards round-trip: .tfrecord.gz named, transparently decompressed") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("gzip")
    (1L to 200L).map(i => (i, s"doc-$i")).toDF("id", "name").repartition(3)
      .write.mode("overwrite").option("compression", "gzip")
      .format("tfrecord").save(dir)
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
    assert(files.count(_.endsWith(".tfrecord.gz")) === 3, files.mkString(", "))
    // explicit-schema read and inference both see through the compression
    val back = s.read.format("tfrecord").schema("id BIGINT, name STRING").load(dir)
    assert(back.count() === 200)
    assert(back.agg(sum("id")).collect().head.getLong(0) === 20100L)
    assert(s.read.format("tfrecord").load(dir).schema.fieldNames.toSeq
      === Seq("id", "name"))
  }

  test("a torn shard fails the read loudly instead of truncating the dataset") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("torn")
    (1L to 20L).toDF("id").coalesce(1)
      .write.mode("overwrite").format("tfrecord").save(dir)
    val file = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".tfrecord")).head
    val bytes = Files.readAllBytes(Paths.get(file))
    Files.write(Paths.get(file), bytes.dropRight(3)) // tear mid-record
    val e = intercept[org.apache.spark.SparkException] {
      s.read.format("tfrecord").schema("id BIGINT").load(dir).count()
    }
    assert(Option(e.getMessage).exists(m =>
      m.contains("truncated") || m.contains("CRC")) ||
      e.getCause != null)
  }
}
