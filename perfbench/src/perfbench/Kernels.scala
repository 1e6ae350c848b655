package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Rows per second of the engine's custom kernels, each as one projection
  * over a fixed, cached in-memory input built from the llm_session tables
  * (documents for the text kernels, adjacent embedding pairs for cosine
  * similarity, about 25,000 rows each, one partition so the figure is per
  * core), written to the noop sink. The figure includes the cached scan;
  * it is the median of two timed passes after one untimed pass. */
object Kernels {

  private val rows = 25000L
  private val reps = 2

  def run(spark: SparkSession, dir: String, tm: Timer): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val copies = math.max(1L, rows / docs.count())
    val text = docs.crossJoin(spark.range(copies).toDF("copy"))
      .select(concat(col("text"), lit(" ＵＳＢ風扇 gift/Ｌｅｄ！")).as("text"))
      .withColumn("sh", shingleHashes(col("text"), 2))
      .withColumn("sa", array_sort(array_distinct(col("sh"))))
      .withColumn("sb", array_sort(array_distinct(shingleHashes(col("text"), 3))))
      .coalesce(1)
      .cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val vecCopies = math.max(1L, rows / n)
    val vecs = emb.select(col("vec_id"), col("embedding").as("a"))
      .join(emb.select(col("vec_id").as("next"), col("embedding").as("b")),
        col("next") === (col("vec_id") + 1) % n)
      .crossJoin(spark.range(vecCopies).toDF("copy"))
      .select("a", "b")
      .coalesce(1)
      .cache()
    val textRows = text.count()
    val vecRows = vecs.count()
    val kernels: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("minhash_signature", text, textRows, minhashSignature(col("sh"), 32)),
      ("shingle_hashes", text, textRows, shingleHashes(col("text"), 2)),
      ("nfkc_normalize", text, textRows, nfkcNormalize(col("text"))),
      ("normalize_text", text, textRows, normalizeText(col("text"))),
      ("cosine_sim", vecs, vecRows, cosineSim(col("a"), col("b"))),
      ("sorted_intersect_count", text, textRows, sortedIntersectCount(col("sa"), col("sb"))))
    val out = kernels.map { case (name, input, nRows, k) =>
      val q = input.select(k.as("k"))
      def once(): Double = {
        val t = System.nanoTime()
        tm.span(s"kernel.$name")(q.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t) / 1e9
      }
      once()
      s"kernel.$name.rows_per_s" -> nRows / Main.median((1 to reps).map(_ => once()))
    }.toMap
    text.unpersist(blocking = true)
    vecs.unpersist(blocking = true)
    out
  }
}
