package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The `llm_mix` registry queries: one call is `SparkEntry.queries(q)`
  * (where eager pins and memo builds run) followed by `collect()`. Result
  * hashing and checking happen after the timed span. */
object Llm {

  val mix: Seq[String] = Seq("e3_knowledge_base", "dedup_ngram_jaccard",
    "dedup_winnowing", "dedup_containment", "dedup_minhash_lsh", "knn_ivf_pq",
    "text_tfidf_topk", "graph_pagerank", "pipeline_dsir")

  /** Row count and an order-insensitive hash of the rows. */
  final case class Result(rows: Long, hash: String)

  final case class Call(query: String, buildS: Double, totalS: Double,
                        result: Option[Result])

  /** The value recorded for one query on one input variant. `hash` is
    * empty when the query's rows differ between runs at a fixed core
    * count; `anyCores` says the hash also held at another core count. */
  final case class Expect(rows: Long, hash: String, cpus: Int, anyCores: Boolean)

  def resultOf(rows: Array[Row]): Result = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    Result(rows.length, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  def call(spark: SparkSession, dir: String, q: String, tm: Timer): Call = {
    val t0 = System.nanoTime()
    var built = t0
    try {
      val rows = tm.span(s"q.$q") {
        val df = tm.span("materialize")(SparkEntry.queries(q)(spark, dir))
        built = System.nanoTime()
        df.collect()
      }
      val t1 = System.nanoTime()
      Call(q, (built - t0) / 1e9, (t1 - t0) / 1e9, Some(resultOf(rows)))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        Call(q, (built - t0) / 1e9, (System.nanoTime() - t0) / 1e9, None)
    }
  }

  /** One serial pass over `llm_mix` in its fixed order. */
  def pass(spark: SparkSession, dir: String, tm: Timer): Seq[Call] =
    mix.map(q => call(spark, dir, q, tm))

  /** `clients` threads on the one session, each running `llm_mix` once
    * from its own starting offset (closed loop). */
  def concurrent(spark: SparkSession, dir: String, clients: Int,
                 tm: Timer): Seq[Call] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
    val threads = (0 until clients).map { c =>
      val order = mix.drop(c * mix.size / clients) ++ mix.take(c * mix.size / clients)
      new Thread(() => order.foreach(q => out.add(call(spark, dir, q, tm))),
        s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Expected values for one (scale, variant), from the recorded table:
    * `scale variant query rows hash cpus any_cores` per line. */
  def expected(f: File, scale: String, variant: Int): Map[String, Expect] =
    Files.readAllLines(f.toPath).asScala.map(_.split("\t", -1).toSeq).collect {
      case Seq(s, v, q, rows, hash, cpus, any)
          if s == scale && v.toIntOption.contains(variant) =>
        q -> Expect(rows.toLong, hash, cpus.toInt, any == "1")
    }.toMap

  /** Whether a call's result is right: the recorded row count, the
    * recorded hash where the query is deterministic on this core count,
    * and the same rows as `reference` (an earlier call of the same query
    * in this run) where the query is deterministic at all. */
  def ok(c: Call, e: Option[Expect], cpus: Int, reference: Option[Result]): Boolean =
    (c.result, e) match {
      case (Some(r), Some(x)) =>
        val hashed = x.hash.nonEmpty
        r.rows == x.rows &&
          (!hashed || !(x.anyCores || x.cpus == cpus) || r.hash == x.hash) &&
          reference.forall(ref => ref.rows == r.rows && (!hashed || ref.hash == r.hash))
      case _ => false
    }
}
