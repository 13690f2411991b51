package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ref.RefPipeline
import graft.text.TextOps

class TweetCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val rows = 3000
  private lazy val dir = Files.createTempDirectory("tweet-corpus-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives byte-identical output, another seed does not") {
    val a = dir.resolve("a.csv"); val b = dir.resolve("b.csv"); val c = dir.resolve("c.csv")
    TweetCorpus.write(a, 7L, rows)
    TweetCorpus.write(b, 7L, rows)
    TweetCorpus.write(c, 8L, rows)
    assert(java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b)))
    assert(!java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(c)))
  }

  test("parsing yields every row with both labels, and stitch and clean do work") {
    val file = dir.resolve("p.csv")
    TweetCorpus.write(file, 11L, rows)
    val raw = TweetCorpus.lines(11L, rows).toSeq
    // commas inside the text, which the stitch drops, and every kind of
    // token the NB-dialect cleaner strips
    assert(raw.count(_.split(",", -1).length > 4) > rows / 10)
    Seq("@", "#", "http://", "www.", "&lt;", "\"").foreach(s => assert(raw.exists(_.contains(s)), s))
    assert(raw.exists(_.exists(_.isDigit)))

    val parsed = RefPipeline.parse(spark, file.toString)
    assert(parsed.count() == rows)
    val labels = parsed.groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(labels.keySet == Set(0.0, 1.0))
    assert(labels.values.forall(_ > rows / 3))
    assert(parsed.filter(col("text").contains(",")).count() == 0)
    val cleaned = parsed.select(TextOps.cleanNb(col("text")).as("c"))
    assert(cleaned.filter(!col("c").rlike("^[a-z ]*$")).count() == 0)
    assert(cleaned.filter(length(col("c")) > 0).count() == rows)
  }
}
