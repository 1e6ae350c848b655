package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipelines
import graft.functions.GraftFunctions.{linkKey, normalizeText}
import graft.operators.{GroupedMode, LinkAlign}
import graft.sources.{CsvManifests, Sinks, XmlDeclarations}

/** The reference's daily job on generated inputs: `importDeclarations`
  * over the zip inbox, `importManifests` over the CSV/XLSX drop directory,
  * then `train` onto an existing knowledge-base snapshot, so the backup
  * rename runs. Every batch works in fresh directories; copying inputs in
  * and checking outputs happen outside the timed spans. */
final class Customs(spark: SparkSession, data: File, work: File) {
  import Customs._

  val expected: Expected = Expected.read(new File(data, "expected.tsv"))
  private val seedKb = new File(work, "seed_kb")
  private var batchNo = 0

  /** The knowledge base every batch trains onto (two rows that the vote
    * never produces), written once at set-up. */
  def prepare(): Unit = {
    import spark.implicits._
    Seq(("OLD ENTRY", "舊資料", "0000.00.00.00-0", 1L),
      ("STALE ITEM", "舊資料", "0000.00.00.00-1", 2L))
      .toDF("original_description", "description_official", "ccc_code", "frequency")
      .coalesce(1).write.parquet(seedKb.getPath)
  }

  /** A fresh batch directory with copies of the inputs and the seed KB. */
  def newBatch(): Batch = {
    batchNo += 1
    val b = new Batch(new File(work, s"batch-$batchNo"))
    copyTree(new File(data, "inbox"), b.inbox)
    copyTree(new File(data, "manifests"), b.manifests)
    copyTree(seedKb, new File(b.kb))
    b
  }

  /** The three pipelines, timed one by one: wall seconds and whether the
    * call returned (a call that threw is timed too). */
  def run(b: Batch, tm: Timer): (Seq[(Double, Boolean)], Seq[(String, String)], Option[String]) = {
    import spark.implicits._
    var rejects = Seq.empty[(String, String)]
    var backup: Option[String] = None
    val decl = timedCall(tm, "pipelines.import_declarations") {
      Pipelines.importDeclarations(spark, b.inbox.getPath, b.history,
        new File(b.dir, "archive").getPath, new File(b.dir, "ckpt").getPath)
        .awaitTermination()
    }
    val man = timedCall(tm, "pipelines.import_manifests") {
      rejects = Pipelines.importManifests(spark, b.manifests.getPath, b.raw)
        .as[(String, String)].collect().toSeq
    }
    val train = timedCall(tm, "pipelines.train") {
      backup = Pipelines.train(spark, b.raw, b.history, b.kb, b.backups)
    }
    (Seq(decl, man, train), rejects, backup)
  }

  /** Problems with one batch's outputs, one entry per pipeline (`None`
    * when right): landed declarations; landed manifest rows and the
    * rejected files; the knowledge base and its backup. */
  def check(b: Batch, rejects: Seq[(String, String)], backup: Option[String]): Seq[Option[String]] = {
    def attempt(body: => Option[String]): Option[String] =
      try body catch { case e: Exception => Some(s"unreadable output: $e") }
    Seq(
      attempt {
        val landed = spark.read.parquet(b.history).count()
        Option.when(landed != expected.num("decl_rows"))(
          s"declarations landed $landed, expected ${expected.num("decl_rows")}")
      },
      attempt {
        val rows = spark.read.parquet(b.raw).count()
        Option.when(rows != expected.num("manifest_rows") || rejects.map(_._1) != expected.rejected)(
          s"manifests landed $rows (expected ${expected.num("manifest_rows")}), rejects ${rejects.map(_._1)}")
      },
      attempt {
        val kb = spark.read.parquet(b.kb).collect().map(r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).sorted.toSeq
        val backedUp = backup.map(p => spark.read.parquet(p).count()).getOrElse(-1L)
        Option.when(kb != expected.kb || backedUp != 2L)(
          s"knowledge base has ${kb.size} rows (expected ${expected.kb.size}), backup rows $backedUp")
      })
  }

  def cleanup(b: Batch): Unit = deleteTree(b.dir)

  /** Layer probes for the traced run, each on its own copy of the inputs:
    * the two readers into a noop sink, the alignment and the vote over the
    * landed tables of batch `b`, and the snapshot writer. The alignment
    * and vote inputs are built the way `Pipelines.train` builds them (null
    * gates, link keys, ordinal columns, normalized description); the
    * returned knowledge base lets the caller check that this copy still
    * produces what `train` must. */
  def probeLayers(b: Batch, tm: Tracer): (Map[String, Double], Seq[(String, String, String, Long)]) = {
    val probe = newBatch()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val declRows = spark.read.parquet(b.history).count()
    val manRows = spark.read.parquet(b.raw).count()
    val xmlS = timeSpan(tm, "sources.xml_read")(noop(XmlDeclarations.read(spark, probe.inbox.getPath)))
    val manS = timeSpan(tm, "sources.manifest_read")(noop(CsvManifests.readAll(spark, probe.manifests.getPath)))
    val rawBids = XmlDeclarations.readRaw(spark, probe.inbox.getPath).count()
    val a = spark.read.parquet(b.raw)
      .where(col("mawb_no").isNotNull && col("hawb_no").isNotNull &&
        col("description_original").isNotNull)
      .select(linkKey(col("mawb_no"), col("hawb_no")).as("link_key"),
        col("data_source_file").as("a_src"), col("item_no"), col("description_original"))
    val d = spark.read.parquet(b.history)
      .where(col("mawb_no").isNotNull && col("hawb_no").isNotNull &&
        col("description_official").isNotNull)
      .select(linkKey(col("mawb_no"), col("hawb_no")).as("link_key"),
        col("data_source_file").as("b_src"), col("item_sequence"),
        col("description_official"), col("ccc_code"))
    val aligned = LinkAlign.alignByOrdinal(a, d, "link_key",
      Seq(col("a_src"), col("item_no")), Seq(col("b_src"), col("item_sequence"))).cache()
    val alignS = timeSpan(tm, "operators.align")(aligned.count())
    val pairs = aligned.select(normalizeText(col("description_original")).as("original_description"),
      col("description_official"), col("ccc_code"))
    val kb = GroupedMode.modeBy(pairs, Seq("original_description"),
      Seq("description_official", "ccc_code")).cache()
    val voteS = timeSpan(tm, "operators.vote")(kb.count())
    val linked = a.select("link_key").distinct().join(d.select("link_key").distinct(), "link_key").count()
    val gated = aligned.select("link_key").distinct().count()
    val nPairs = aligned.count()
    val kbRows = kb.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).sorted.toSeq
    val snapS = timeSpan(tm, "sinks.snapshot")(Sinks.snapshotOverwrite(spark, kb, probe.kb, probe.backups))
    val written = Files.walk(new File(probe.kb).toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !"._".contains(p.getFileName.toString.head))
      .map(Files.size).toSeq
    aligned.unpersist(); kb.unpersist()
    cleanup(probe)
    (Map(
      "sources.xml_rows_per_s" -> declRows / xmlS,
      "sources.manifest_rows_per_s" -> manRows / manS,
      "sources.decl_rows_kept_ratio" -> declRows.toDouble / rawBids,
      "operators.align_s" -> alignS,
      "operators.vote_s" -> voteS,
      "operators.aligned_pairs" -> nPairs.toDouble,
      "operators.bills_gated_ratio" -> gated.toDouble / linked,
      "sinks.snapshot_s" -> snapS,
      "sinks.bytes_written" -> written.sum.toDouble,
      "sinks.files_written" -> written.size.toDouble), kbRows)
  }

  private def timeSpan(tm: Timer, name: String)(body: => Any): Double = {
    val t = System.nanoTime(); tm.span(name)(body); (System.nanoTime() - t) / 1e9
  }
}

object Customs {

  /** One batch's directories: inputs, landed tables, KB and its backups. */
  final class Batch(val dir: File) {
    val inbox = new File(dir, "inbox")
    val manifests = new File(dir, "manifests")
    val history: String = new File(dir, "history").getPath
    val raw: String = new File(dir, "raw").getPath
    val kb: String = new File(dir, "kb").getPath
    val backups: String = new File(dir, "backups").getPath
  }

  final case class Expected(nums: Map[String, Long], rejected: Seq[String],
                            kb: Seq[(String, String, String, Long)]) {
    def num(k: String): Long = nums(k)
  }

  object Expected {
    def read(f: File): Expected = {
      val rows = Files.readAllLines(f.toPath).asScala.map(_.split("\t", -1).toSeq).toSeq
      Expected(
        rows.collect { case Seq(k, v) if k != "rejected" => k -> v.toLong }.toMap,
        rows.collect { case Seq("rejected", v) => v },
        rows.collect { case Seq("kb", d, o, c, n) => (d, o, c, n.toLong) }.sorted)
    }
  }

  /** Run `body` inside a span: its wall seconds, and whether it returned
    * (an exception is logged to stderr). */
  def timedCall(tm: Timer, name: String)(body: => Unit): (Double, Boolean) = {
    val t = System.nanoTime()
    val ok = try { tm.span(name)(body); true } catch { case e: Exception =>
      System.err.println(s"[perfbench] $name failed: $e"); false
    }
    ((System.nanoTime() - t) / 1e9, ok)
  }

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
