package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.Pipeline
import graft.functions.{BloomFunctions, SketchExpressions}
import graft.sources.MockUserSource

/** Layer probes of a traced run, each timed from outside the layer around
  * calls into its public API: the native functions as noop projections
  * over the corpus columns, the E/T/L pipeline, the mock source, and
  * GroupedTopK's plan metrics on `o_grouped_topk_orders`.
  */
object Probes {

  private val Reps = 5

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(f: => Unit): Double = Stats.median(Seq.fill(Reps)(timed(f)))

  /** Function name → SQL call over the columns of the cached probe frames. */
  val functionCalls: Seq[(String, String)] = Seq(
    "minhash_sig" -> "minhash_sig(h)",
    "simhash32" -> "simhash32(h)",
    "word_ngram_hashes" -> "word_ngram_hashes(w, 3)",
    "count_in_set" -> "count_in_set(w, array('the', 'of', 'and', 'to', 'a', 'in'))",
    "char_rolling_hash" -> "char_rolling_hash(text)",
    "vec_dot" -> "vec_dot(embedding, embedding)")

  def unit(metric: String): String = metric match {
    case "plans.grouped_topk_cap_flushes" => "count"
    case "plans.grouped_topk_row_ratio" => "ratio"
    case _ => "s"
  }

  def run(
      spark: SparkSession, o: Main.Opts, dataDir: String, workDir: Path,
      tracer: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    SketchExpressions.register(spark)
    BloomFunctions.register(spark)
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .selectExpr("text", "split(text, ' ') AS w")
      .selectExpr("text", "w", "word_ngram_hashes(w, 3) AS h")
      .cache()
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet").select("embedding").cache()
    docs.count()
    vecs.count()
    val fns = functionCalls.map { case (f, e) =>
      val src = if (f == "vec_dot") vecs else docs
      s"functions.${f}_s" -> medianOf(noop(src.selectExpr(e)))
    }
    docs.unpersist()
    vecs.unpersist()

    val csv = workDir.resolve("tmp").resolve("pipeline_csv").toString
    val etl = medianOf(Pipeline.run(spark, useMock = true, csvOut = Some(csv)))
    val mock = medianOf(noop(MockUserSource.rawUsers(spark)))

    // GroupedTopK's SQL metrics, read from the executed plan of one run.
    val topk = Digest.frame(SparkEntry.queries("o_grouped_topk_orders")(spark, o.input))
    topk.collect()
    val (flushes, rowsOut, rowsIn) =
      Main.groupedTopKMetrics(topk.queryExecution.executedPlan).getOrElse((0L, 0L, 0L))

    tracer.record(0, "probes", "layer probes", t0, System.nanoTime())
    (fns ++ Seq(
      "etl.pipeline_run_s" -> etl,
      "sources.mock_users_s" -> mock,
      "plans.grouped_topk_cap_flushes" -> flushes.toDouble,
      "plans.grouped_topk_row_ratio" -> (if (rowsIn > 0) rowsOut.toDouble / rowsIn else 0.0)
    )).toMap
  }
}
