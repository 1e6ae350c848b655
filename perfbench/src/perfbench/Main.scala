package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark entry point. Subcommands:
  *
  *  - `gen-customs SEED OUT`: write the customs_daily inputs and their
  *    expected outputs.
  *  - `record-llm DATA CPUS PASSES`: print each llm_mix query's row count,
  *    then its result hash and its seconds per pass (used to record
  *    `expected_llm.tsv`).
  *  - `run key=value...`: one measured run; the last stdout line is the
  *    result JSON. Keys: workload, seconds, trace, cpus, customs, llm,
  *    scale, variant, expected, work, spans.
  *
  * `perfbench/run.py` builds the classes, generates the inputs and calls
  * this; see `perfbench/NOTES.md` for the workloads and metrics. */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "gen-customs" :: seed :: out :: Nil =>
      CustomsGen.generate(seed.toLong, new File(out))
    case "record-llm" :: data :: cpus :: passes :: Nil =>
      record(data, cpus, passes.toInt)
    case "run" :: kvs =>
      val o = kvs.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
      val result = new Run(o).execute()
      println(result)
    case _ =>
      System.err.println("usage: gen-customs | record-llm | run (see Main.scala)")
      sys.exit(2)
  }

  private def session(cpus: String): SparkSession = {
    val s = Sessions.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small shuffle job that loads the scheduler, codegen and shuffle
    * classes before the first timed call; it touches no engine code. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, 4).selectExpr("id % 97 as k", "id")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()

  private def record(data: String, cpus: String, passes: Int): Unit = {
    val spark = session(cpus)
    val results = (1 to passes).map(_ => Llm.pass(spark, data, NoTrace))
    for (q <- Llm.mix.indices) {
      val rs = results.map(_(q).result.get)
      val secs = results.map(r => f"${r(q).totalS}%.3f")
      println((Llm.mix(q) +: rs.head.rows.toString +: (rs.map(_.hash) ++ secs)).mkString("\t"))
    }
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One measured run of one workload. */
  final class Run(o: Map[String, String]) {
    private val workload = o("workload")
    private val seconds = o("seconds").toDouble
    private val traced = o("trace") == "1"
    private val cpus = o("cpus")
    private val nCpus = cpus.toInt
    private val work = new File(o("work"))
    private val llmDir = o.get("llm")
    private val customsDir = o.get("customs").map(new File(_))
    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    private var attempted = 0L
    private var failed = 0L
    private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    /** Record a metric; a value that is not finite is left out and logged. */
    private def metric(name: String, v: Double, unit: String): Unit =
      if (v.isNaN || v.isInfinite) System.err.println(s"[perfbench] metric $name is $v; left out")
      else metrics(name) = (v, unit)

    private def count(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

    private lazy val llmExpected: Map[String, Llm.Expect] =
      Llm.expected(new File(o("expected")), o("scale"), o("variant").toInt)

    /** Check a pass's calls against the record and, per query, against
      * `reference` (an earlier result of the same query in this run). */
    private def checkCalls(calls: Seq[Llm.Call],
                           reference: Map[String, Llm.Result]): Unit =
      calls.foreach { c =>
        val good = Llm.ok(c, llmExpected.get(c.query), nCpus, reference.get(c.query))
        if (!good) System.err.println(s"[perfbench] ${c.query}: wrong result ${c.result}")
        count(good)
      }

    private def resultsOf(calls: Seq[Llm.Call]): Map[String, Llm.Result] =
      calls.flatMap(c => c.result.map(c.query -> _)).toMap

    /** One customs batch: copy inputs (untimed), run the three pipelines,
      * check each one's output (untimed) and count it. Returns the
      * per-pipeline seconds (a call that threw is timed too) and the
      * number of rejected manifest files. */
    private def customsBatch(c: Customs, tm: Timer, probe: Customs.Batch => Unit = _ => ())
        : (Seq[Double], Int) = {
      val b = c.newBatch()
      val (calls, rejects, backup) = tm.span("customs.batch")(c.run(b, tm))
      val problems = c.check(b, rejects, backup)
      calls.zip(problems).foreach { case ((_, returned), p) =>
        p.foreach(m => System.err.println(s"[perfbench] customs: $m"))
        count(returned && p.isEmpty)
      }
      System.err.println(calls.map(t => f"${t._1}%.3f").mkString("[perfbench] batch s: ", " ", ""))
      probe(b)
      c.cleanup(b)
      (calls.map(_._1), rejects.size)
    }

    /** Runs the workload and returns the result line. It is printed even
      * when calls fail: they count in `failed`, and a phase that throws
      * counts as one failed call and leaves its metrics out. */
    def execute(): String = {
      work.mkdirs()
      val s0 = System.nanoTime()
      val spark = session(cpus)
      val buildS = (System.nanoTime() - s0) / 1e9
      try {
        if (traced) tracedRun(spark, buildS) else endToEnd(spark)
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        count(false)
      } finally spark.stop()
      val ms = metrics.map { case (k, (v, u)) =>
        s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }

    /** Progress line on stderr, in seconds since the JVM started. */
    private def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $name")

    private def setupDone(): Unit =
      metric("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")

    private def endToEnd(spark: SparkSession): Unit = workload match {
      case "customs_daily" =>
        val c = new Customs(spark, customsDir.get, work)
        c.prepare()
        warmUp(spark)
        setupDone()
        val first = customsBatch(c, NoTrace)._1.sum
        val t0 = System.nanoTime()
        val warm = mutable.ArrayBuffer.empty[Double]
        while (warm.size < 4 || (System.nanoTime() - t0) / 1e9 < seconds)
          warm += customsBatch(c, NoTrace)._1.sum
        metric("first_pass_s", first, "s")
        metric("warm_pass_s", median(warm.toSeq), "s")
      case "llm_session" =>
        val dir = llmDir.get
        warmUp(spark)
        setupDone()
        val first = Llm.pass(spark, dir, NoTrace)
        checkCalls(first, Map.empty)
        val ref = resultsOf(first)
        val t0 = System.nanoTime()
        val warm = mutable.ArrayBuffer.empty[Double]
        while (warm.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
          val calls = Llm.pass(spark, dir, NoTrace)
          checkCalls(calls, ref)
          warm += calls.map(_.totalS).sum
        }
        metric("first_pass_s", first.map(_.totalS).sum, "s")
        metric("warm_pass_s", median(warm.toSeq), "s")
    }

    /** The traced run: every per-layer metric, whatever the workload; the
      * workload only chooses the unit that `trace.overhead_ratio` times. */
    private def tracedRun(spark: SparkSession, sessionBuildS: Double): Unit = {
      val tr = new Tracer(spark)
      tr.install()
      metric("sessions.build_s", sessionBuildS, "s")
      tr.span("setup.warmup")(warmUp(spark))
      val dir = llmDir.get

      phase("llm_mix: the cold pass, then one warm pass")
      val firstSpan = "llm.first_pass"
      val first = tr.span(firstSpan)(Llm.pass(spark, dir, tr))
      checkCalls(first, Map.empty)
      val serialRef = resultsOf(first)
      val warm = tr.span("llm.warm_pass")(Llm.pass(spark, dir, tr))
      checkCalls(warm, serialRef)
      for ((c, w) <- first.zip(warm)) {
        metric(s"q.${c.query}.first_s", c.totalS, "s")
        metric(s"q.${c.query}.warm_s", w.totalS, "s")
      }
      for ((tag, pass) <- Seq("first" -> firstSpan, "warm" -> "llm.warm_pass")) {
        val p = tr.named(pass).head
        val under = tr.all.filter(s => s.name == "materialize" && s.startNs >= p.startNs && s.endNs <= p.endNs)
        val calls = if (tag == "first") first else warm
        metric(s"materialize.build_${tag}_s", calls.map(_.buildS).sum, "s")
        metric(s"materialize.jobs_$tag", under.map(s => tr.subtree(s).jobs.get).sum.toDouble, "count")
        val total = tr.subtree(p)
        metric(s"plan.${tag}_s", total.planMs.get / 1e3, "s")
        metric(s"codegen.compile_${tag}_s", p.c.compileNs / 1e9, "s")
        metric(s"codegen.compiles_$tag", p.c.compiles.toDouble, "count")
        if (tag == "warm") {
          metric("exec.jobs", total.jobs.get.toDouble, "count")
          metric("exec.stages", total.stages.get.toDouble, "count")
          metric("exec.tasks", total.tasks.get.toDouble, "count")
          metric("exec.task_s", total.taskMs.get / 1e3, "s")
          metric("exec.gc_s", total.gcMs.get / 1e3, "s")
          metric("exec.shuffle_read_bytes", total.shuffleRead.get.toDouble, "bytes")
          metric("exec.shuffle_write_bytes", total.shuffleWrite.get.toDouble, "bytes")
          metric("exec.spill_bytes", total.spill.get.toDouble, "bytes")
          metric("exec.busy_ratio", total.taskMs.get / 1e3 / (nCpus * p.seconds), "ratio")
        }
      }
      metric("materialize.storage_bytes", storageBytes(spark), "bytes")

      phase("customs: a cold batch, then the measured one with layer probes")
      val c = new Customs(spark, customsDir.get, work)
      c.prepare()
      customsBatch(c, tr)
      var probe = (Map.empty[String, Double], Seq.empty[(String, String, String, Long)])
      val (times, rejected) = customsBatch(c, tr, b => probe = c.probeLayers(b, tr))
      val (probes, probeKb) = probe
      val Seq(declS, manS, trainS) = times
      metric("pipelines.import_declarations_s", declS, "s")
      metric("pipelines.import_manifests_s", manS, "s")
      metric("pipelines.train_s", trainS, "s")
      metric("pipelines.ingest_rows_per_s",
        (c.expected.num("decl_rows") + c.expected.num("manifest_rows")) / (declS + manS), "1/s")
      probes.foreach { case (k, v) => metric(k, v, unitOf(k)) }
      metric("sources.rejected_files", rejected.toDouble, "count")
      count(probeKb == c.expected.kb)
      count(probes("operators.aligned_pairs") == c.expected.num("aligned_pairs"))
      count(math.abs(probes("operators.bills_gated_ratio") -
        c.expected.num("bills_gated").toDouble / c.expected.num("bills_linked")) < 1e-12)

      phase("kernels")
      Kernels.run(spark, dir, tr).foreach { case (k, v) => metric(k, v, "1/s") }

      phase("shared session: every client loops once over llm_mix")
      tr.serial = false
      val shared = tr.span("shared.concurrent")(Llm.concurrent(spark, dir, nCpus, tr))
      tr.serial = true
      checkCalls(shared, serialRef)
      val serialWarm = warm.map(w => w.query -> w.totalS).toMap
      metric("shared.slowdown_ratio", median(shared.groupBy(_.query).toSeq.map { case (q, cs) =>
        median(cs.map(_.totalS)) / serialWarm(q) }), "ratio")

      phase("tracing overhead")
      // this workload's unit untraced, then traced: one customs batch or
      // one warm llm_mix pass each way
      def unit(tm: Timer): Double = workload match {
        case "customs_daily" => customsBatch(c, tm)._1.sum
        case "llm_session" =>
          val calls = Llm.pass(spark, dir, tm)
          checkCalls(calls, serialRef)
          calls.map(_.totalS).sum
      }
      tr.remove(); val plain = unit(NoTrace)
      tr.install(); val withTrace = unit(tr)
      metric("trace.overhead_ratio", withTrace / plain, "ratio")
      phase("done")
      metric("storage_mb", storageBytes(spark) / 1e6, "MB")
      o.get("spans").foreach(p => tr.write(new File(p)))
      tr.remove()
    }

    private def unitOf(name: String): String =
      if (name.endsWith("per_s")) "1/s" else if (name.endsWith("_s")) "s"
      else if (name.endsWith("ratio")) "ratio" else if (name.contains("bytes")) "bytes"
      else "count"

    /** Block-manager bytes held by cached and pinned RDDs. */
    private def storageBytes(spark: SparkSession): Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
  }
}
