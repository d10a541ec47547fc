package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class TextSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docSchema = StructType.fromDDL(
    "doc_id BIGINT, lang STRING, text STRING")

  test("JSONL round-trips the documents fixture bit-for-bit") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"lang", $"text")
    val dir = Fixtures.fresh("jsonl_docs")
    docs.write.json(dir)
    val back = TextSources.jsonl(spark, dir, docSchema)
    assert(back.schema == docSchema)
    assert(back.as[(Long, String, String)].collect().toSet ==
      docs.as[(Long, String, String)].collect().toSet)
  }

  test("CSV round-trips the documents fixture (quoted text survives)") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"lang", $"text")
    val dir = Fixtures.fresh("csv_docs")
    docs.write.option("header", "true").csv(dir)
    val back = TextSources.csv(spark, dir, docSchema)
    assert(back.as[(Long, String, String)].collect().toSet ==
      docs.as[(Long, String, String)].collect().toSet)
  }

  test("JSONL reads unchanged under readStream (the claimed streaming path)") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", $"lang", $"text")
    val dir = Fixtures.fresh("jsonl_stream")
    docs.write.json(dir)
    val stream = spark.readStream.schema(docSchema).json(dir)
    assert(stream.isStreaming)
    val name = "jsonl_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).count() == docs.count())
    assert(spark.table(name).agg(sum(length($"text"))).as[Long].head() ==
      docs.agg(sum(length($"text"))).as[Long].head(),
      "streamed content matches the batch read byte-for-byte in length")
  }

  test("unparseable JSONL rows surface as null rows for the ok/err split") {
    val dir = Fixtures.fresh("jsonl_bad")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-0.json"),
      """{"doc_id": 1, "lang": "en", "text": "ok"}
        |not json at all
        |{"doc_id": 2, "lang": "en", "text": "also ok"}
        |""".stripMargin)
    val back = TextSources.jsonl(spark, dir, docSchema)
    assert(back.count() == 3)
    assert(back.filter($"doc_id".isNull).count() == 1)
  }
}
