package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BloomFns, BoundedTopK, MisraGries, TextFns}

/** Rows per second of each native expression and aggregator in
  * `graft.functions`, each a timed `select` over the workload's own
  * column: document text where the workload has documents, embedding
  * vectors where it has vectors. A function whose column the workload
  * lacks reports 0. Inputs are replicated to [[Rows]] rows and cached
  * first, so the timing is the function over an in-memory scan rather
  * than job start-up. */
final class FunctionProbes(spark: SparkSession, input: String, workload: String) {
  private val Rows = 60000L
  private val Reps = 3

  private def textSource: Option[DataFrame] = workload match {
    case "batch_course" => Some(spark.read.parquet(s"$input/documents.parquet"))
    case "stream_ingest" => Some(spark.read.parquet(s"$input/backlog"))
    case _ => None
  }

  private def vectorSource: Option[DataFrame] = workload match {
    case "batch_course" | "ann_mixed" => Some(spark.read.parquet(s"$input/embeddings.parquet"))
    case _ => None
  }

  private def replicated(df: DataFrame): DataFrame = {
    val n = df.count()
    val copies = math.max(1L, Rows / math.max(1L, n))
    val out = df.withColumn("copy", explode(sequence(lit(1L), lit(copies))))
      .repartition(4).cache()
    out.count()
    out
  }

  /** Median seconds of `Reps` runs of `action`. */
  private def timed(action: => Unit): Double = {
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); action; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(Reps / 2)
  }

  private def scalar(df: DataFrame, e: Column): Double = {
    val n = df.count().toDouble
    n / timed(df.select(e.as("r")).agg(sum(hash(col("r")))).collect())
  }

  private def aggregate(df: DataFrame, agg: => DataFrame): Double = {
    val n = df.count().toDouble
    n / timed(agg.collect())
  }

  def run(): String = {
    BloomFns.register(spark)
    val text = textSource.map { d =>
      replicated(d.select(col("doc_id"), col("source"), col("text"))
        .withColumn("tok", TextFns.tokenize(col("text")))
        .withColumn("hs", array_distinct(call_function("graft_shingle56", col("tok"))))
        .withColumn("th", call_function("graft_tokhash56", col("tok")))
        .withColumn("url", concat(lit("HTTP://Www.Example.COM:80/"), col("source"),
          lit("/../a/./"), col("doc_id").cast("string"), lit("?b=2&a=1#frag"))))
    }
    val vec = vectorSource.map(d => replicated(
      d.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))))
    def onText(f: DataFrame => Double): Double = text.fold(0.0)(f)
    val tk = udaf(new BoundedTopK(10))
    val mg = udaf(new MisraGries(20))
    val out = Seq(
      "MinHashSignature" -> onText(t => scalar(t, call_function("graft_minhash", col("hs")))),
      "SimHashSignature" -> onText(t => scalar(t, call_function("graft_simhash", col("th")))),
      "HashedNgrams" -> onText(t => scalar(t, call_function("graft_shingle56", col("tok")))),
      "NgramPack" -> onText(t => scalar(t, call_function("graft_ngrampack", col("text")))),
      "NfcNormalize" -> onText(t => scalar(t, call_function("graft_nfc", col("text")))),
      "UrlNormalize" -> onText(t => scalar(t, call_function("graft_url_normalize", col("url")))),
      "VectorMath" -> vec.fold(0.0)(v => scalar(v, call_function("graft_vdot", col("v"), col("v")))),
      "BoundedTopK" -> onText(t => aggregate(t, t.groupBy(col("source"))
        .agg(tk(xxhash64(col("text"), col("copy")).as("v"), col("doc_id")).as("r")))),
      "MisraGries" -> onText(t => aggregate(t, t.agg(mg(col("text")).as("r")))),
      "BloomFns" -> onText(t => aggregate(t,
        t.agg(call_function(BloomFns.AGG_NAME, xxhash64(col("text"), col("copy"))).as("r")))))
    text.foreach(_.unpersist())
    vec.foreach(_.unpersist())
    out.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}
