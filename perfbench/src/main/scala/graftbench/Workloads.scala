package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ref.RefPipeline
import graft.text.TextOps

/** What one pass's output check found: `ok`, and a short description of
  * the output for the diagnostics line. */
final case class Outcome(ok: Boolean, detail: String)

/** One benchmark workload. `prepare` and `open` make up set-up (inputs
  * written or located, then read once); `pass` is the timed unit of work,
  * including its output check (the harness frees graft's pinned blocks
  * after it); `probe` is extra work done only in traced runs, outside the
  * timed pass. */
trait Workload {
  def inputRows: Long
  def prepare(spark: SparkSession, work: Path): Unit
  def open(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer): Outcome
  def probe(spark: SparkSession, tr: Tracer): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, benchDir: Path): Workload = name match {
    case "sentiment_mllib"   => new SentimentMllib(seed)
    case "curation_registry" => new CurationRegistry(benchDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final case class Confusion(tp: Long, fp: Long, tn: Long, fn: Long) {
  def total: Long = tp + fp + tn + fn
  def accuracy: Double = (tp + tn).toDouble / total
}

/** The paper's MLlib pipelines, `RefPipeline.mlPipeline` with NB and then
  * with LinearSVC, each fitted and scored, over one seeded corpus file. */
final class SentimentMllib(seed: Long) extends Workload {
  /** 10k rows is one input split, so every job runs a single task: the
    * few-tasks regime the paper pipeline shows on a small host. */
  val CorpusRows = 10000
  /** Accuracy both models must reach: chance is 0.5 on the balanced corpus. */
  val MinAccuracy = 0.70

  def inputRows: Long = CorpusRows
  private var path: String = _
  private var generation = 0
  private val firstSeen = mutable.HashMap.empty[String, Confusion]

  def prepare(spark: SparkSession, work: Path): Unit = {
    if (path != null) Files.deleteIfExists(java.nio.file.Paths.get(path))
    generation += 1
    val file = work.resolve("corpus").resolve(s"tweets-$seed-$generation.csv")
    TweetCorpus.write(file, seed, CorpusRows)
    path = file.toString
  }

  def open(spark: SparkSession): Unit = {
    val n = spark.read.text(path).count()
    require(n == inputRows, s"corpus has $n lines, expected $inputRows")
  }

  private def check(model: String, r: Row): Outcome = {
    val c = Confusion(r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("tn"), r.getAs[Long]("fn"))
    // randomSplit(0.75, 0.25) scores about a quarter of the rows; 2 % of the
    // rows is over six standard deviations of the split size
    val quarter = math.abs(c.total - inputRows / 4.0) <= 0.02 * inputRows
    val bothClasses = c.tp + c.fp > 0 && c.tn + c.fn > 0
    // the split and both fits are seeded, so every pass must agree
    val stable = firstSeen.getOrElseUpdate(model, c) == c
    val ok = quarter && bothClasses && c.accuracy >= MinAccuracy && stable
    Outcome(ok, f"$model ${c.tp}/${c.fp}/${c.tn}/${c.fn} acc ${c.accuracy}%.4f")
  }

  def pass(spark: SparkSession, tr: Tracer): Outcome = {
    val outcomes = Seq(("nb", false), ("svc", true)).map { case (model, svm) =>
      tr.span("graft.ml", model) {
        val df = tr.span("graft.ml", s"$model.fit")(RefPipeline.mlPipeline(spark, path, svm))
        check(model, tr.span("graft.ml", s"$model.score")(df.head()))
      }
    }
    Outcome(outcomes.forall(_.ok), outcomes.map(_.detail).mkString("; "))
  }

  /** graft.text alone: the P1 parse and the NB-dialect clean over the whole
    * corpus, forced by one aggregate over every column. */
  override def probe(spark: SparkSession, tr: Tracer): Unit =
    tr.span("graft.text", "text.parse_clean") {
      RefPipeline.parse(spark, path)
        .select(col("id"), col("label"), TextOps.cleanNb(col("text")).as("clean"))
        .agg(count(col("id")), sum(col("label")), sum(length(col("clean"))), max(col("clean")))
        .head()
    }
}

/** Registry entries over the sf0.01 documents fixture, each built and then
  * fingerprinted; the fingerprints are compared with the ones recorded in
  * `expected/curation_registry.tsv`. */
final class CurationRegistry(benchDir: Path) extends Workload {
  private val dir = benchDir.resolve("fixture").resolve("sf0.01").toString
  private val expected: Map[String, String] = {
    val src = scala.io.Source.fromFile(benchDir.resolve("expected").resolve("curation_registry.tsv").toFile, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).map(f => f(0) -> f(1)).toMap
    finally src.close()
  }
  private var queries: Seq[(String, (SparkSession, String) => DataFrame)] = _
  private var rows = 0L
  def inputRows: Long = rows

  def prepare(spark: SparkSession, work: Path): Unit = {
    val all = SparkEntry.queries
    queries = Layers.CurationEntries.map(n => n -> all(n))
  }

  def open(spark: SparkSession): Unit = rows = spark.read.parquet(s"$dir/documents.parquet").count()

  def pass(spark: SparkSession, tr: Tracer): Outcome = {
    val seen = queries.map { case (name, fn) =>
      val df = tr.span("graft.ops", s"$name.build")(fn(spark, dir))
      name -> tr.span("graft.ops", s"$name.action")(Fingerprint(df))
    }
    val bad = seen.filterNot { case (n, fp) => expected.get(n).contains(fp) }
    Outcome(bad.isEmpty, seen.map { case (n, fp) => s"$n=$fp" }.mkString(" "))
  }
}

/** Order-insensitive fingerprint of a frame, `rows:hashsum`: the row count
  * and the sum of per-row hashes over every column, with floating-point
  * values rounded to 6 decimals so that summation order inside Spark cannot
  * change it. */
object Fingerprint {
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _)       => transform(c, x => normalize(x, et))
    case StructType(fields)     =>
      struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _                      => c
  }

  def apply(df: DataFrame): String = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(4294967291L))), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }
}
