package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EmbeddingsSpec extends SparkSpec {

  test("labelCentroids accumulates exact quantized sums per (label, dim)") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1.0f, -2.0f), 10),
      (2L, Array(3.0f, 0.5f), 10),
      (3L, Array(0.25f, 0.25f), 20))
      .toDF("vec_id", "embedding", "label")
    val got = Embeddings.labelCentroids(embs, "label", "embedding")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // label 10: dim0 = 1e6 + 3e6, dim1 = -2e6 + 0.5e6; two vectors each
    assert(got((10L, 0L)) === ((4000000L, 2L)))
    assert(got((10L, 1L)) === ((-1500000L, 2L)))
    assert(got((20L, 0L)) === ((250000L, 1L)))
    assert(got((20L, 1L)) === ((250000L, 1L)))
  }

  test("quantizeInt8: codes hit ±127 at the extremes, zero vectors guard") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(2.0f, -1.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Embeddings.quantizeInt8(embs, "vec_id", "embedding")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // max_abs = 2.0: codes are round(x * 127 / 2)
    assert(got((1L, 0L)) === ((127L, 2000000L)))
    assert(got((1L, 1L)) === ((-64L, 2000000L))) // -63.5 rounds away from 0
    assert(got((1L, 2L)) === ((32L, 2000000L)))  // 31.75 -> 32
    assert(got((2L, 0L)) === ((0L, 0L)))
    assert(got((2L, 2L)) === ((0L, 0L)))
  }

  test("randomProjection: deterministic, dimensions reduce, sums check out") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val run = () => Embeddings
      .randomProjection(embs, "vec_id", "embedding", 16)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val got = run()
    assert(got.length === 32) // 2 vectors x 16 output dims
    // all-ones input: out_j = (#plus - #minus) * 1e6, an integer multiple
    // of 1e6 with |out_j| <= 64e6; all-zeros input: exactly 0
    got.filter(_._1 == 1L).foreach { case (_, _, q) =>
      assert(q % 1000000L === 0L && math.abs(q) <= 64000000L)
    }
    got.filter(_._1 == 2L).foreach { case (_, _, q) => assert(q === 0L) }
    // signs must not be constant (the hash actually mixes)
    assert(got.filter(_._1 == 1L).map(_._3).distinct.length > 1)
    assert(run().toSeq === got.toSeq) // bit-stable across runs
  }

  test("kmeansExact partitions the input, reports exact cluster sizes, and is bit-stable") {
    import spark.implicits._
    val embs = graft.Tables(spark, sfDir, "embeddings")
    val run = () => Embeddings
      .kmeansExact(embs, "vec_id", "embedding", dim = 64, k = 4, iters = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val got = run()
    val total = embs.count()
    assert(got.map(_._1).distinct.length.toLong === total) // a partition
    val sizes = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    got.foreach { case (id, cell, n) =>
      assert(sizes(cell) === n, s"vec $id cluster_n")
    }
    assert(sizes.keySet.subsetOf((0L until 4L).toSet))
    assert(sizes.size > 1, "sf data should not collapse to one cluster")
    assert(run().toSeq === got.toSeq) // integer arithmetic: bit-stable
  }

  test("kmeansExact iters=0 assigns to the nearest initial centroid (ties to smallest cell)") {
    import spark.implicits._
    val embs = Seq(
      (0L, Array.fill(4)(0.0f)),   // centroid 0 (q = 0)
      (1L, Array.fill(4)(1.0f)),   // centroid 1 (q = 1000)
      (2L, Array.fill(4)(0.1f)),   // q=100 -> nearer centroid 0
      (3L, Array.fill(4)(0.9f)),   // q=900 -> nearer centroid 1
      (4L, Array.fill(4)(0.5f))    // q=500 -> exact tie -> cell 0
    ).toDF("vec_id", "embedding")
    val got = Embeddings
      .kmeansExact(embs, "vec_id", "embedding", dim = 4, k = 2, iters = 0)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("kmeansExact k=1 yields a single cluster holding every row") {
    import spark.implicits._
    val embs = graft.Tables(spark, sfDir, "embeddings").limit(50)
    val got = Embeddings
      .kmeansExact(embs, "vec_id", "embedding", dim = 64, k = 1, iters = 1)
      .as[(Long, Long, Long)].collect()
    assert(got.length === 50)
    assert(got.forall(r => r._2 === 0L && r._3 === 50L))
  }

  // ---- exact PQ sub-codebooks: one trainer for every subspace ----

  /** Plain-Scala integer Lloyd's over `m` subspaces, written from the
    * rule alone: quantize to floor(x·1000), init = the `ksub` smallest
    * ids, argmin of squared L2 with ties to the smallest code, floor-
    * average updates, an empty cell keeps its centroid. A null vector
    * lands in cell 0 of every subspace, counts in `n` and adds nothing
    * to the sums. */
  private def lloydReference(rows: Seq[(Long, Array[Float])], dim: Int,
                             m: Int, ksub: Int,
                             iters: Int): Seq[Seq[Seq[Long]]] = {
    val dsub = dim / m
    val q = rows.sortBy(_._1).map { case (_, v) =>
      Option(v).map(_.map(x => math.floor(x.toDouble * 1000).toLong)) }
    (0 until m).map { j =>
      val sub = q.map(_.map(_.slice(j * dsub, (j + 1) * dsub)))
      var cents = sub.take(ksub).map(_.get.toSeq)
      def cellOf(v: Option[Array[Long]]): Int = v.fold(0) { x =>
        cents.indices.minBy(c => (cents(c).zip(x)
          .map { case (a, b) => (a - b) * (a - b) }.sum, c))
      }
      for (_ <- 1 to iters) {
        val cells = sub.map(cellOf)
        cents = cents.indices.map { c =>
          val members = sub.zip(cells).collect { case (v, `c`) => v }
          if (members.isEmpty) cents(c)
          else (0 until dsub).map(d => Math.floorDiv(
            members.flatten.map(_(d)).sum, members.size.toLong))
        }
      }
      cents
    }
  }

  /** The engine's books for `m` subspaces: the exact k-means codebook
    * when m = 1, the exact PQ sub-codebooks otherwise. */
  private def engineBooks(embs: org.apache.spark.sql.DataFrame, dim: Int,
                          m: Int, ksub: Int, iters: Int,
                          key: String): Seq[Seq[Seq[Long]]] =
    if (m == 1) Seq(Embeddings.exactCentroids(embs, "vec_id", "embedding",
      dim = dim, k = ksub, iters = iters))
    else Similarity.exactPqBooksFor(embs, "vec_id", "embedding", dim = dim,
      m = m, ksub = ksub, iters = iters, key = key)

  test("exact PQ books on sf data equal per-subspace exactCentroids " +
    "over each slice and the plain-Scala Lloyd reference") {
    import spark.implicits._
    val embs = graft.Tables(spark, sfDir, "embeddings")
    val books = Similarity.exactPqBooksFor(embs, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, key = "spec-pq-per-slice")
    val perSlice = (0 until 16).map { j =>
      Embeddings.exactCentroids(embs.select(col("vec_id"),
        slice(col("embedding"), j * 4 + 1, 4).as("embedding")),
        "vec_id", "embedding", dim = 4, k = 16, iters = 2)
    }
    assert(books === perSlice)
    val rows = embs.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    assert(books === lloydReference(rows, dim = 64, m = 16, ksub = 16,
      iters = 2))
  }

  test("exact trainer agrees with the plain-Scala Lloyd reference: " +
    "m in {1, 2, 4}, ties, an empty cell, iters = 0, k = 1, null vectors") {
    import spark.implicits._
    val fill = (x: Float) => Array.fill(4)(x)
    // ties: id 4 sits exactly between the two initial centroids; ids 5
    // and 6 are null vectors
    val ties = Seq(0L -> fill(0f), 1L -> fill(1f), 2L -> fill(0.1f),
      3L -> fill(0.9f), 4L -> fill(0.5f), 5L -> null, 6L -> null)
    // two equal initial centroids: every row ties to cell 0 in the first
    // iteration, so cell 1 is empty and keeps its centroid
    val empty = Seq(0L -> fill(0.2f), 1L -> fill(0.2f), 2L -> fill(0.4f),
      3L -> fill(0f), 4L -> null)
    // the null vectors pull cell 0 toward the origin, so in the second
    // iteration only they remain in it: an all-null cell averages to 0
    val nullOnly = Seq(0L -> fill(1f), 1L -> fill(0.6f), 2L -> null,
      3L -> null, 4L -> null)
    val rnd = new scala.util.Random(17)
    val spread = (0L until 30L).map(i =>
      i -> Array.fill(4)((rnd.nextInt(2001) - 1000) / 1000f)) :+
      (100L -> null)
    val cases = Seq(
      ("ties", ties, 1, 2, 2), ("ties", ties, 2, 2, 2),
      ("ties", ties, 4, 2, 2), ("ties", ties, 2, 2, 0),
      ("empty", empty, 1, 2, 2), ("empty", empty, 2, 2, 2),
      ("nullOnly", nullOnly, 1, 2, 2), ("nullOnly", nullOnly, 2, 2, 2),
      ("spread", spread, 1, 3, 3), ("spread", spread, 2, 3, 3),
      ("spread", spread, 4, 3, 3), ("spread", spread, 4, 1, 1))
    cases.foreach { case (name, rows, m, ksub, iters) =>
      val embs = rows.toDF("vec_id", "embedding")
      val got = engineBooks(embs, dim = 4, m = m, ksub = ksub,
        iters = iters, key = s"spec-lloyd-$name-$m-$ksub-$iters")
      assert(got === lloydReference(rows, dim = 4, m = m, ksub = ksub,
        iters = iters), s"$name m=$m ksub=$ksub iters=$iters")
    }
  }

  test("training 16 PQ subspaces starts no more Spark jobs than one") {
    val embs = graft.Tables(spark, sfDir, "embeddings")
    val sc = spark.sparkContext
    def jobsOf(group: String)(train: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group))
            n.incrementAndGet()
      }
      sc.addSparkListener(l)
      sc.setJobGroup(group, group)
      try train finally {
        sc.clearJobGroup()
        org.apache.spark.GraftTestBridge.waitForListeners(sc)
        sc.removeSparkListener(l)
      }
      n.get
    }
    val one = jobsOf("spec-train-m1") {
      engineBooks(embs, dim = 64, m = 1, ksub = 16, iters = 2, key = "")
    }
    val sixteen = jobsOf("spec-train-m16") {
      engineBooks(embs, dim = 64, m = 16, ksub = 16, iters = 2,
        key = "spec-train-jobs")
    }
    info(s"training jobs: m=1 $one, m=16 $sixteen")
    assert(one > 0)
    assert(sixteen <= one)
  }

  // ---- PCA ----

  test("gramMatrix matches hand-computed moments on a tiny corpus") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val got = Embeddings.gramMatrix(embs, "embedding", dim = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // q-vectors: (1000, 2000), (3000, -1000)
    assert(got((0L, 0L)) ===
      ((2L, 4000L, 4000L, 1000L * 1000 + 3000L * 3000)))
    assert(got((0L, 1L)) ===
      ((2L, 4000L, 1000L, 1000L * 2000 + 3000L * -1000)))
    assert(got((1L, 1L)) ===
      ((2L, 1000L, 1000L, 2000L * 2000 + 1000L * 1000)))
  }

  test("jacobiEigen solves a known symmetric matrix exactly") {
    // [[2,1],[1,2]] has eigenpairs (3, [1,1]/√2) and (1, [1,-1]/√2)
    val (vals, vecs) = Embeddings.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 &&
      math.abs(vals(1) - 1.0) < 1e-12, vals.toSeq)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(r2, r2)).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 }, vecs(0).toSeq)
    // sign convention: largest-|component| positive, first wins ties
    assert(vecs(1)(0) > 0, vecs(1).toSeq)
  }

  test("PCA laws: orthonormal loadings, eigen residual, trace conservation, variance capture") {
    val embs = graft.Tables(spark, sfDir, "embeddings")
    val dim = 64
    val (mean, valsTop, vecsTop) =
      Embeddings.pcaModel(embs, "embedding", dim, r = 8)
    // rebuild the full covariance to check residuals and the trace
    val g = embs
      .agg(Embeddings.vectorGram(
        org.apache.spark.sql.functions.col("embedding"), dim).as("g"))
      .collect().head.getSeq[Long](0).toArray
    val n = g(0).toDouble
    val cov = Array.ofDim[Double](dim, dim)
    var at = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val c = g(at) / n / 1e6 - (g(1 + i) / n / 1e3) * (g(1 + j) / n / 1e3)
      cov(i)(j) = c; cov(j)(i) = c
      at += 1
    }
    val (allVals, _) = Embeddings.jacobiEigen(cov)
    // eigenvalues: descending, non-negative (covariance is PSD)
    assert(allVals.zip(allVals.tail).forall { case (a, b) => a >= b })
    assert(allVals.forall(_ > -1e-12))
    // trace conservation: Jacobi rotations preserve the trace
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    assert(math.abs(allVals.sum - trace) <= 1e-9 * math.abs(trace))
    // orthonormality of the returned top-r rows
    for (a <- 0 until 8; b <- 0 until 8) {
      val dot = (0 until dim).map(i => vecsTop(a)(i) * vecsTop(b)(i)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9,
        s"v$a · v$b = $dot")
    }
    // eigen residual: ||C v − λ v||∞ small for each returned pair
    for (r <- 0 until 8) {
      for (i <- 0 until dim) {
        val cv = (0 until dim).map(j => cov(i)(j) * vecsTop(r)(j)).sum
        assert(math.abs(cv - valsTop(r) * vecsTop(r)(i)) < 1e-9,
          s"residual at comp $r dim $i")
      }
    }
    // variance capture: the sample variance of projection column j
    // equals λ_j (population variance over the quantized corpus)
    val proj = graft.SparkEntry.queries("emb_pca_project")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val byPos = proj.groupBy(_._1).view
      .mapValues(_.map(_._2.toDouble / 1e6)).toMap
    for (j <- 0 until 8) {
      val xs = byPos(j.toLong)
      val m = xs.sum / xs.size
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.size
      assert(math.abs(v - valsTop(j)) <= 1e-6 + 0.01 * valsTop(j).abs,
        s"pos $j: var=$v λ=${valsTop(j)}")
    }
    // determinism: a second full run reproduces the projection exactly
    val again = graft.SparkEntry.queries("emb_pca_project")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = graft.SparkEntry.queries("emb_pca_project")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === first)
  }

  test("prototypePrune: hand-computed cells, scores, ranks and the " +
    "top-fifth cut; argmax ties go to the smallest cell") {
    import spark.implicits._
    // 2-cell × 4-dim codebook: c0 = (100,0,100,0), c1 = (0,100,0,100)
    val cents = Similarity.fixedCodebook(nlist = 2, dims = 4)
    assert(cents === Seq(Seq(100L, 0L, 100L, 0L), Seq(0L, 100L, 0L, 100L)))
    // exactly-representable binary fractions: floor(x·1000) has no
    // float-rounding surprises (0.005f·1000 would floor to 4, not 5)
    val emb = Seq(
      (1L, Array(0.5f, 0f, 0f, 0f)),       // cell 0, q=500, score 50000
      (2L, Array(0.25f, 0f, 0f, 0f)),      // cell 0, q=250, score 25000
      (3L, Array(0.125f, 0f, 0f, 0f)),     // cell 0, q=125, score 12500
      (4L, Array(0.0625f, 0f, 0f, 0f)),    // cell 0, q=62,  score 6200
      (5L, Array(0.03125f, 0f, 0f, 0f)),   // cell 0, q=31,  score 3100
      (6L, Array(0f, 0.03125f, 0f, 0f)),   // cell 1, score 3100
      (7L, Array(0f, 0f, 0f, 0f))          // ZERO vec: tie 0 = 0 -> cell 0
    ).toDF("vec_id", "embedding")
    val got = Embeddings.prototypePrune(emb, "vec_id", "embedding", cents)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // cell 0 holds {1..5, 7}: n=6, ranks by score desc then id; the top
    // fifth of 6 is floor via 5*rk <= 6 -> only rk=1 prunes
    assert(got(1L) === ((1L, 0L, 50000L, 1L, 6L, 1L)))
    assert(got(2L) === ((2L, 0L, 25000L, 2L, 6L, 0L)))
    assert(got(5L) === ((5L, 0L, 3100L, 5L, 6L, 0L)))
    assert(got(7L) === ((7L, 0L, 0L, 6L, 6L, 0L))) // tie -> smallest cell
    // cell 1 is a singleton: 5*1 > 1 -> never pruned
    assert(got(6L) === ((6L, 1L, 3100L, 1L, 1L, 0L)))
    // a 10-member cell prunes exactly its top fifth (2 of 10)
    val big = (1 to 10).map(i => (100L + i, Array(i * 0.125f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val pruned = Embeddings.prototypePrune(big, "vec_id", "embedding", cents)
      .where($"pruned" === 1L).select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(pruned === Seq(109L, 110L)) // the two closest to the centroid
  }

  test("pcaProject stays in whole-stage codegen with fallback disabled") {
    // the literal-fold formulation this expression replaced overflowed
    // janino's method budget and silently dropped to interpreted eval;
    // with fallback OFF a codegen regression throws instead of hiding
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    val out = graft.SparkEntry.queries("emb_pca_project")(s2, sfDir)
    assert(out.count() > 0)
    assert(out.queryExecution.executedPlan.toString.contains("*("))
  }
}
