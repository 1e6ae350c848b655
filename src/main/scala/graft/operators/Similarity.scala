package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.Checkpoints.PinOps

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers: brute-force cosine top-k (the exact baseline — a broadcast
  * join of the query set against the corpus, one scan, no corpus shuffle),
  * and a sign-bucket LSH variant (random-hyperplane buckets along fixed
  * coordinate planes) that prunes the candidate set for scale.
  */
object Similarity {

  /** Encode-side fan-out for the scan tiers: the per-vector encode
    * kernels (cell argmax, int8/PQ codes, milli-quantization) are the
    * expensive part of every ANN scan, and a single-row-group source
    * would run them single-task; [[graft.Fanout.maybe]] redistributes
    * only when the scan can't feed the cores (identity on multi-split
    * data — the 100 TB case — and on streaming frames). */
  private def fannedCorpus(corpus: DataFrame, idCol: String): DataFrame =
    graft.Fanout.maybe(corpus, idCol)

  /** Deterministic coarse bucket: the sign bits of the first `dims`
    * components packed into an int — a fixed-hyperplane LSH code. At 100 TB
    * this is the partition key: the corpus is written bucketed by this code
    * so a query touches only its own bucket's files (partition pruning). */
  def signBucket(vec: Column, dims: Int): Column =
    (0 until dims).map { d =>
      when(element_at(vec, d + 1) > 0f, lit(1 << d)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact top-`k` cosine neighbors for each query vector. `queries` must be
    * small (it is broadcast); the corpus is scanned exactly once. The
    * per-query ranking window partitions by query id, so the shuffle volume
    * is |queries| × |corpus| score rows — for big query sets switch to the
    * bucketed variant below. Ties break by neighbor id (deterministic). */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val joined = c.crossJoin(broadcast(q))
    // Self-exclusion is opt-out: correct for self-search (corpus == queries);
    // when corpus and queries are distinct datasets whose ids merely collide,
    // pass excludeSelf = false so legitimate neighbors aren't dropped.
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** RADIUS (range) similarity search: every corpus vector whose cosine
    * to the query is at least √(simSqPpm/10⁶) — the "all neighbors
    * within a similarity ball" API that top-k search cannot express
    * (a recall-critical dedup/contamination sweep wants EVERYTHING past
    * the threshold, however many). The test is [[graft.operators.Dedup
    * .semanticDedup]]'s exact integer form — milli-quantized vectors,
    * `score²·10⁶ ≥ simSqPpm·|a|²·|b|²` in decimal, `score > 0` guard
    * (anti-similar and zero vectors never match) — so the full result
    * set replays hash-exactly in SQL.
    *
    * Scale shape: the query set broadcasts into ONE corpus scan — no
    * shuffle, no window; output size is data-determined (that's the
    * point of a radius query). For corpus-× -corpus radius joins use the
    * cell-blocked [[Dedup.semanticDedup]]/`embeddingPairs` family
    * instead — this is the bounded-query-set form. Output:
    * (query_id, neighbor_id), plus the integer score for rank-free
    * downstream ordering. */
  def knnRadius(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, simSqPpm: Long = 810000L,
                excludeSelf: Boolean = true): DataFrame = {
    require(simSqPpm >= 0 && simSqPpm <= 1000000L,
      "simSqPpm is cos² in parts-per-million: [0, 1000000]")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantizeMilli(col(vecCol)).as("iq_c"))
      .withColumn("n2_c", dotLong(col("iq_c"), col("iq_c")))
    val q = queries.select(col(idCol).as("query_id"),
      quantizeMilli(col(vecCol)).as("iq_q"))
      .withColumn("n2_q", dotLong(col("iq_q"), col("iq_q")))
    val d = (x: Column) => x.cast("decimal(19,0)")
    val joined = c.crossJoin(broadcast(q))
      .withColumn("score", dotLong(col("iq_c"), col("iq_q")))
      .where(col("score") > 0 &&
        d(col("score")) * d(col("score")) * d(lit(1000000L)) >=
          d(lit(simSqPpm)) * d(col("n2_c")) * d(col("n2_q")))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    kept.select(col("query_id"), col("neighbor_id"), col("score"))
  }

  /** Matryoshka truncation recall (Kusupati et al. 2022, arXiv:2205.13147):
    * per query, how many of the exact top-`k` cosine neighbors survive
    * when every vector is truncated to its first `dims` components — THE
    * measurement behind "can we store/search the short prefix instead?"
    * (an MRL-trained embedder front-loads information, so high overlap at
    * small `dims` licenses a 1/2–1/4 scan-bandwidth index at 100 TB).
    *
    * Both sides reuse [[knnBruteForce]]'s exact ranking (same tiebreak),
    * so overlap is well-defined; the output is an integer overlap count
    * per query (0..k), joined back to every query so a zero-overlap query
    * still reports. Cost: two corpus scans with broadcast probes — the
    * same shape as `knn_brute`, twice. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       dims: Int): DataFrame = {
    def truncate(d: DataFrame) = d.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val full = knnBruteForce(corpus, queries, idCol, vecCol, k)
    val short = knnBruteForce(truncate(corpus), truncate(queries),
      idCol, vecCol, k)
    val overlap = full.select("query_id", "neighbor_id")
      .join(short.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as(s"overlap_at_$k"))
  }

  /** Deterministic NEGATIVE sampling for contrastive training: per query,
    * `k` pseudo-random corpus vectors that are provably NOT near neighbors
    * — the anchors' negatives a contrastive objective (InfoNCE, triplet)
    * trains against. "Random" is the md5 order on (salt, query, candidate)
    * — replayable in the SQL oracle and stable across runs/partitionings,
    * the same pinned-draw discipline as the Poisson bootstrap; "not near"
    * is an anti-join against the exact top-`excludeTopM` cosine neighbors
    * (false negatives — near-dups sampled as negatives — are the failure
    * mode this guard exists for).
    *
    * Scale shape: one corpus scan against broadcast queries (the
    * [[knnBruteForce]] contract — queries small by construction), the
    * exclusion set is |queries| × m rows (broadcast anti-join), and the
    * per-query rank window is the same |queries| × |corpus| shuffle as
    * `knn_brute` — for big query sets switch the candidate source to the
    * bucketed variant exactly as that operator documents.
    *
    * Output: (query_id, rank 1..k, negative_id), fully deterministic. */
  def negativeSamples(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      excludeTopM: Int, salt: String = "neg"): DataFrame = {
    val near = knnBruteForce(corpus, queries, idCol, vecCol, excludeTopM)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).cast("long").as("query_id"))
    val cand = corpus.select(col(idCol).cast("long").as("neighbor_id"))
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(near, Seq("query_id", "neighbor_id"), "left_anti")
    val w = Window.partitionBy("query_id").orderBy(
      md5(concat_ws(":", lit(salt), col("query_id"), col("neighbor_id"))
        .cast("binary")).asc,
      col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("negative_id"))
  }

  /** Materialize the corpus PARTITIONED BY sign bucket — the at-rest layout
    * for ANN at scale: a query's candidate set lives in one partition
    * directory, so the scan prunes to ~1/2^dims of the files before any
    * row is read (see [[knnPrePartitioned]]). */
  def writeBucketed(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, signDims: Int = 4): Unit =
    corpus.select(col(idCol), col(vecCol),
      signBucket(col(vecCol), signDims).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** ANN over a [[writeBucketed]] layout: the bucket predicate becomes a
    * PartitionFilter — only the query buckets' files are touched. The
    * query-side bucket set is computed driver-side (queries are the small,
    * broadcast side by construction). Output shape of [[knnBruteForce]]. */
  def knnPrePartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, signDims: Int = 4,
                        multiProbe: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeBuckets(col(vecCol), signDims, multiProbe)).as("bucket"))
    val queryBuckets = q.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(path)
      .where(col("bucket").isin(queryBuckets: _*)) // partition pruning
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Spherical k-means codebook, trained DRIVER-SIDE on a bounded sample:
    * at most `maxTrainVectors` corpus vectors are collected (unit-
    * normalized; zero vectors excluded — they have no cosine direction),
    * seeded k-means++ picks the initial centroids, and Lloyd iterations
    * run locally (cosine on unit vectors = dot product). The codebook is
    * nlist × dims floats — kilobytes — so training never touches the
    * cluster: a 100 TB corpus costs one bounded-`limit` scan regardless of
    * size, where a distributed fit would be maxIter full corpus passes.
    * (The same shape FAISS uses: IVF codebooks train on a small sample.)
    *
    * The sample is drawn by a deterministic hash of the VECTOR itself
    * (xxhash64 over the array, salted with `seed`), not `limit` — the
    * first rows a scan yields are one shard of a sorted corpus, and a
    * codebook trained on one shard mis-centers every other cell. Hash
    * membership is a pure function of the data: the same vectors train
    * the codebook whatever the partition order, across retries and
    * repartitioning (same property as [[Sampling.sampleByHash]]). Cost:
    * one column-pruned count to size the keep-fraction, then one filtered
    * scan — both bounded-output, so a 100 TB corpus still never ships more
    * than `maxTrainVectors` vectors to the driver. */
  def trainCodebook(corpus: DataFrame, vecCol: String, nlist: Int,
                    maxTrainVectors: Int = 100000, seed: Long = 42L,
                    maxIter: Int = 10): Seq[Seq[Float]] = {
    val sample = collectTrainSample(corpus, vecCol, maxTrainVectors,
      s"ivf-train-$seed", normalize = true)
    require(sample.nonEmpty, "IVF codebook: no non-zero training vectors")
    val k = math.min(nlist, sample.length)
    val dims = sample.head.length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dims) { s += a(i) * b(i); i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    // k-means++ init: each next centroid drawn with probability ∝ squared
    // cosine distance to the nearest already-chosen one
    val centroids = Array.ofDim[Array[Double]](k)
    centroids(0) = sample(rnd.nextInt(sample.length)).clone()
    val bestSim = Array.fill(sample.length)(-1.0)
    for (c <- 1 until k) {
      var i = 0
      while (i < sample.length) {
        val s = dot(sample(i), centroids(c - 1))
        if (s > bestSim(i)) bestSim(i) = s
        i += 1
      }
      val weights = bestSim.map(s => { val d = 1.0 - s; d * d })
      val total = weights.sum
      val target = rnd.nextDouble() * total
      var acc = 0.0; var pick = sample.length - 1; var j = 0
      while (j < sample.length && pick == sample.length - 1) {
        acc += weights(j)
        if (acc >= target) pick = j
        j += 1
      }
      centroids(c) = sample(pick).clone()
    }
    // Lloyd: assign to argmax dot (first index on ties, matching
    // [[assignCell]]), mean, re-normalize; empty cell re-seeds from the
    // point farthest from every current centroid
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      val worst = Array.fill(sample.length)(2.0) // max over centroids, tracked for re-seed
      var i = 0
      while (i < sample.length) {
        var best = 0; var bs = dot(sample(i), centroids(0))
        var c = 1
        while (c < k) {
          val s = dot(sample(i), centroids(c))
          if (s > bs) { bs = s; best = c }
          c += 1
        }
        worst(i) = bs
        counts(best) += 1
        val sum = sums(best)
        var d = 0
        while (d < dims) { sum(d) += sample(i)(d); d += 1 }
        i += 1
      }
      for (c <- 0 until k) {
        if (counts(c) == 0) {
          centroids(c) = sample(worst.indices.minBy(worst)).clone()
        } else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          centroids(c) = if (n == 0) centroids(c) else m.map(_ / n)
        }
      }
    }
    centroids.toSeq.map(_.toSeq.map(_.toFloat))
  }

  /** The bounded deterministic training sample both codebook trainers draw
    * from (see [[trainCodebook]]'s scaladoc for the full rationale):
    * non-zero vectors, hash-of-vector membership (salted), hash-sorted,
    * hard-capped at `maxTrainVectors` — the collected set and its order
    * are pure functions of the data, never of partitioning. */
  private def collectTrainSample(corpus: DataFrame, vecCol: String,
                                 maxTrainVectors: Int, salt: String,
                                 normalize: Boolean): Array[Array[Double]] = {
    val h = xxhash64(lit(salt), col(vecCol))
    val nonZero = corpus.select(col(vecCol))
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
    val n = nonZero.count()
    val frac = if (n <= maxTrainVectors) 1.0
      else maxTrainVectors.toDouble / n
    // billion-bucket grid, floored threshold clamped to >= 1: at
    // frac*1e9 < 1 (a trillion-vector corpus) a plain floor would keep
    // NOTHING and k-means would fit an empty sample; the clamp keeps a
    // ~n/1e9-row sample and the limit() below still caps the collect
    val picked =
      if (frac >= 1.0) nonZero
      else nonZero.where(pmod(h, lit(1000000000L)) <
        math.max(1L, (frac * 1000000000).toLong))
    // sort the (already ≤~maxTrainVectors-row) sample by its hash before
    // collecting: the training set AND its order are then pure functions of
    // the data — k-means++ seeds by index, so an order change would change
    // the codebook — and the trailing hard cap trims deterministically
    picked
      .orderBy(h, col(vecCol))
      .limit(maxTrainVectors)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](0).toArray.map(_.toDouble)
        if (!normalize) v
        else {
          val nrm = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / nrm)
        }
      }
  }

  /** Map-side IVF cell assignment: argmax cosine against the (literal,
    * kilobyte-sized) codebook — evaluated inside the scan, zero shuffles,
    * first index wins ties (the same rule as the probe ranking).
    * Deliberately LAMBDA-FREE (greatest over (score, -index) structs, not a
    * transform(...) HOF): an alias whose child contains lambda variables
    * poisons constraint propagation — the inferred join-side filter
    * mis-computes its references and binds against columns that don't
    * exist there. One struct comparison per centroid, all codegen'd. */
  def assignCell(vec: Column, centroids: Seq[Seq[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosineSim(vec, typedLit(c)).as("s"), lit(-i).as("ni"))
    }
    if (scored.length == 1) lit(0)
    else (-greatest(scored: _*).getField("ni")).cast("int")
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer tier that scales past
    * fixed-hyperplane LSH: a k-means codebook of `nlist` centroids (cosine
    * metric, trained on a bounded sample — see [[trainCodebook]])
    * partitions the corpus into cells; each query probes only its `nprobe`
    * nearest cells. Candidate fraction is ~nprobe/nlist and, unlike sign
    * buckets, cells track the DATA distribution, so recall holds on
    * clustered embeddings.
    *
    * Scale shape: training collects ≤ `maxTrainVectors` vectors to the
    * driver (bounded regardless of corpus size); assignment is a scan-side
    * argmax against the literal codebook; the candidate join is corpus ⋈
    * broadcast(query-probes) keyed on the cell — the corpus is never
    * shuffled and never scanned for training beyond the bounded sample. At
    * rest, write the corpus partitioned by cell ([[writeIvf]]) and the
    * probe predicate prunes partitions before any row is read. */
  def knnIvf(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             nlist: Int = 16, nprobe: Int = 4,
             maxTrainVectors: Int = 100000, seed: Long = 42L,
             excludeSelf: Boolean = true): DataFrame = {
    import corpus.sparkSession.implicits._
    val cents = trainCodebook(corpus.select(col(vecCol)), vecCol, nlist,
      maxTrainVectors, seed)
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      // zero vectors have no cosine direction and can never rank as a
      // neighbor (cos = 0 against everything)
      .where(exists(col("c_vec"), x => x =!= lit(0.0f)))
      .withColumn("cell", assignCell(col("c_vec"), cents))
    val cent = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("_csim", cosineSim(col("q_vec"), col("centroid")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_csim").desc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q_vec", "cell")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Materialize the corpus PARTITIONED BY IVF cell — the at-rest layout
    * of the k-means tier (see [[knnIvf]]): `<path>/data` partitioned by
    * cell, `<path>/centroids` as a tiny parquet codebook. Queries against
    * this layout touch only their probe cells' files.
    *
    * `codebook`, when given, SKIPS training and lays the corpus out
    * against those frozen centroids — the rebuild-for-comparison path of
    * [[appendToIvf]]'s equivalence pin. */
  def writeIvf(corpus: DataFrame, idCol: String, vecCol: String,
               path: String, nlist: Int = 16,
               maxTrainVectors: Int = 100000, seed: Long = 42L,
               codebook: Option[Seq[Seq[Float]]] = None): Unit = {
    import corpus.sparkSession.implicits._
    val cents = codebook.getOrElse(
      trainCodebook(corpus.select(col(vecCol)), vecCol, nlist,
        maxTrainVectors, seed))
    corpus.select(col(idCol), col(vecCol))
      .where(exists(col(vecCol), x => x =!= lit(0.0f))) // see knnIvf note
      .withColumn("cell", assignCell(col(vecCol), cents))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/data")
    cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** The persisted codebook of a [[writeIvf]] layout, cell-ordered. */
  def readIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Seq[Float]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell")
      .collect()
      .map(r => r.getSeq[Float](1))
      .toSeq

  /** INCREMENTAL layout maintenance — how a 100 TB corpus actually grows:
    * assign the arriving batch's cells with the FROZEN persisted codebook
    * (no re-train, no rescan of the existing corpus) and APPEND its rows
    * into the cell-partitioned directory. Existing partition files are
    * never rewritten (append adds new files next to them — pinned in
    * `SimilaritySpec`), so the append's cost is proportional to the BATCH,
    * not the corpus, and concurrent readers keep their snapshot.
    *
    * The trade every IVF deployment makes: cells drift as the data
    * distribution drifts — the codebook stays the one trained at build
    * time, so recall degrades only if new data is distributed unlike the
    * build corpus. Monitor cell-size skew and re-train (full [[writeIvf]])
    * when it degenerates; the layout equivalence pin guarantees append ==
    * rebuild-under-the-same-codebook, so a re-train is the ONLY event
    * that changes query results. */
  def appendToIvf(batch: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val cents = readIvfCodebook(batch.sparkSession, path)
    batch.select(col(idCol), col(vecCol))
      .where(exists(col(vecCol), x => x =!= lit(0.0f))) // see knnIvf note
      .withColumn("cell", assignCell(col(vecCol), cents))
      .write.partitionBy("cell").mode("append").parquet(s"$path/data")
  }

  /** Retention for [[compactIvfCells]]'s per-cell backups (and orphaned
    * staging dirs from crashed runs): keep the newest `keepLast` backups
    * PER CELL, delete the rest, and drop any staging dir older than the
    * newest backup of its cell (a crash before the backup rename leaves
    * one; it can never be the live data). The maintenance twin of
    * [[graft.sources.Sinks.vacuumBackups]] — unbounded backup chains
    * eventually dominate storage. Only names matching the
    * `cell=N-<timestamp>` pattern are candidates; anything else under
    * the roots is never touched. Returns the deleted paths.
    *
    * `keepLast` ≥ 1 always: a cell missing after a crash is RESTORED
    * from its newest backup (the backup IS the live data in that
    * window), so the newest must survive every vacuum. Run this from
    * the same single-writer maintenance schedule as the compaction
    * itself, never concurrently with one (an in-flight staging dir
    * would read as an orphan). */
  def vacuumIvfBackups(spark: org.apache.spark.sql.SparkSession,
                       path: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "keepLast must be >= 1 (see scaladoc)")
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(new HPath(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    def doomedUnder(root: HPath, keep: Int): Seq[HPath] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).map(_.getPath)
        .filter(_.getName.matches("cell=\\d+-\\d+"))
        .groupBy(_.getName.replaceAll("-\\d+$", ""))
        .values.flatMap { bs =>
          bs.sortBy(_.getName.replaceAll(".*-", "").toLong)
            .dropRight(keep)
        }.toSeq
    val doomed = doomedUnder(new HPath(s"$path/backups"), keepLast) ++
      doomedUnder(new HPath(s"$path/staging"), 0) // staging: all orphans
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.toString)
  }

  /** Compact the cells of an IVF layout that have accumulated small
    * files from [[appendToIvf]] — the maintenance twin of the append
    * path (every stream of appends needs one, or open/seek cost
    * eventually dominates the pruned reads the layout exists for). Only
    * cells whose file count exceeds BOTH `maxFilesPerCell` and their
    * size-derived target (`ceil(bytes/targetBytes)`) are rewritten;
    * everything else is untouched. Returns the compacted cell ids.
    *
    * Crash-safe in the [[graft.sources.Sinks.snapshotOverwrite]]
    * discipline, adapted to a partitioned layout: the rewrite STAGES
    * OUTSIDE the data directory (a `cell=N.staging-…` dir inside it
    * would corrupt concurrent readers' partition discovery), then swaps
    * via two metadata renames (cell → timestamped backup, staged →
    * cell). A crash between the renames leaves the cell missing but its
    * backup intact; the recovery sweep at the START of the next call
    * restores the newest backup of any missing cell — same
    * recover-on-open contract as the snapshot sinks. `crashPoint` is the
    * test hook ("staged" / "backed-up"), mirroring `snapshotOverwrite`. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
                      path: String, maxFilesPerCell: Int = 8,
                      targetBytes: Long = 128L * 1024 * 1024,
                      crashPoint: String => Unit = _ => ()): Seq[Int] = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val data = new HPath(s"$path/data")
    val fs = FileSystem.get(data.toUri,
      spark.sparkContext.hadoopConfiguration)
    val backups = new HPath(s"$path/backups")
    // recovery sweep: a crash between the two swap renames left the cell
    // dir missing — restore its NEWEST backup (suffix is a timestamp)
    if (fs.exists(backups)) {
      fs.listStatus(backups).map(_.getPath)
        .filter(_.getName.matches("cell=\\d+-\\d+"))
        .groupBy(_.getName.replaceAll("-\\d+$", ""))
        .foreach { case (cellName, bs) =>
          val cellDir = new HPath(data, cellName)
          if (!fs.exists(cellDir)) {
            val newest = bs.maxBy(_.getName.replaceAll(".*-", "").toLong)
            if (!fs.rename(newest, cellDir)) throw new java.io.IOException(
              s"recovery rename $newest -> $cellDir failed")
          }
        }
    }
    if (!fs.exists(data)) return Seq.empty
    val cells = fs.listStatus(data)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName)
    cells.flatMap { cellDir =>
      val files = fs.listStatus(cellDir).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      val want = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (files.length <= math.max(want, maxFilesPerCell)) None
      else {
        val ts = System.currentTimeMillis()
        val staged = new HPath(s"$path/staging/${cellDir.getName}-$ts")
        spark.read.parquet(cellDir.toString).repartition(want)
          .write.mode("overwrite").parquet(staged.toString)
        crashPoint("staged")
        fs.mkdirs(backups)
        val backup = new HPath(backups, s"${cellDir.getName}-$ts")
        if (!fs.rename(cellDir, backup)) throw new java.io.IOException(
          s"rename $cellDir -> $backup failed")
        crashPoint("backed-up")
        if (!fs.rename(staged, cellDir)) throw new java.io.IOException(
          s"rename $staged -> $cellDir failed")
        Some(cellDir.getName.stripPrefix("cell=").toInt)
      }
    }.toSeq
  }

  /** Per-JVM registry of built IVF layouts, keyed by caller-chosen dataset
    * key: [[ivfLayoutFor]] builds a layout at most once per key — the
    * "index once, query many" usage every at-rest ANN deployment has. */
  private val ivfLayouts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The [[writeIvf]] layout for `corpus` under dataset key `key`,
    * building it (once per key per JVM) into `baseDir` on first use.
    * Returns the layout path for [[knnIvfPartitioned]]. This is the
    * pattern to copy at scale: the codebook and the cell-partitioned
    * corpus are persisted artifacts, and queries only ever pay the
    * partition-pruned probe read — never a re-train. */
  def ivfLayoutFor(corpus: DataFrame, idCol: String, vecCol: String,
                   key: String, nlist: Int = 16,
                   baseDir: String =
                     sys.props("java.io.tmpdir") + "/graft-ivf"): String =
    ivfLayouts.computeIfAbsent(key, { _ =>
      val safe = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
      val path = s"$baseDir/$safe"
      writeIvf(corpus, idCol, vecCol, path, nlist)
      path
    })

  /** ANN over a [[writeIvf]] layout: probe cells become a PartitionFilter —
    * only those cells' files are read. Output shape of [[knnBruteForce]]. */
  def knnIvfPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int = 4,
                        excludeSelf: Boolean = true): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("_csim", cosineSim(col("q_vec"), col("centroid")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_csim").desc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q_vec", "cell")
    // query-side cells, driver-collected (queries are small by contract)
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(probeCells: _*)) // partition pruning
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("cell"))
    val joined = c.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** A query's probe set: its own sign bucket plus, with `multiProbe`,
    * every Hamming-1 neighbor bucket — standard multi-probe LSH. A near
    * neighbor differing in ONE hyperplane sign is recovered at the cost of
    * scanning (dims+1)/2^dims of the corpus instead of 1/2^dims (measured
    * recall@3 on the test corpus: 0.14 single-probe -> ~0.5 multi-probe). */
  def probeBuckets(vec: Column, dims: Int, multiProbe: Boolean): Column = {
    val own = signBucket(vec, dims)
    if (!multiProbe) array(own)
    else array(own +: (0 until dims).map(d => own.bitwiseXOR(lit(1 << d))): _*)
  }

  /** Bucketed ANN: queries search their own sign bucket (+ Hamming-1
    * buckets with `multiProbe`, the default). Same output shape as
    * [[knnBruteForce]]; recall < 1 by construction (standard LSH trade)
    * but the scanned fraction drops ~2^dims/(dims+1)-fold. */
  def knnBucketed(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  signDims: Int = 4, excludeSelf: Boolean = true,
                  multiProbe: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeBuckets(col(vecCol), signDims, multiProbe)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      signBucket(col(vecCol), signDims).as("bucket"))
    val joined = c.join(broadcast(q), "bucket")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF + SQ8, composed (the FAISS "IVF,SQ8" index as a dataflow): the
    * codebook prunes the corpus to `nprobe` cells, the pruned candidates
    * are scored on int8 codes, and only the top `candidates` per query
    * are re-ranked in exact fp32. The three savings multiply — at 100 TB
    * the scan reads nprobe/nlist of the PARTITIONS (at rest: partition
    * pruning), a quarter of the BYTES per row scanned (codes vs fp32),
    * and computes fp32 distances for a few dozen rows per query. */
  def knnIvfSq8(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4, candidates: Int = 50,
                maxTrainVectors: Int = 100000, seed: Long = 42L,
                excludeSelf: Boolean = true): DataFrame = {
    import corpus.sparkSession.implicits._
    val cents = trainCodebook(corpus.select(col(vecCol)), vecCol, nlist,
      maxTrainVectors, seed)
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).as("neighbor_id"),
        int8Codes(col(vecCol)).as("c8"),
        assignCell(col(vecCol), cents).as("cell"))
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
    val cent = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
    val qFull = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    val probes = qFull.crossJoin(broadcast(cent))
      .withColumn("_csim", cosineSim(col("q_vec"), col("centroid")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_csim").desc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q8", "cell")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }

  /** Shared SQ8 tail: int8-score `kept` (must carry query_id/neighbor_id/
    * q8/c8), keep the top `candidates` per query, re-rank the survivors
    * in exact fp32 against `corpus`, emit (query_id, rank, neighbor_id).
    * One body for both quantized tiers so their cut/re-rank semantics
    * can't drift apart. */
  private def int8CutAndRerank(kept: DataFrame, corpus: DataFrame,
                               qFull: DataFrame, idCol: String, vecCol: String,
                               k: Int, candidates: Int): DataFrame =
    cutAndRerank(kept.withColumn("approx", int8Cosine(col("q8"), col("c8"))),
      corpus, qFull, idCol, vecCol, k, candidates)

  /** Shared approximate-tier tail: `scored` carries (query_id, neighbor_id,
    * approx); keep the top `candidates` per query by approx score, re-rank
    * the survivors in exact fp32 cosine against `corpus`, emit
    * (query_id, rank, neighbor_id). One body for every quantized tier
    * (SQ8, PQ) so their cut/re-rank semantics can't drift apart. */
  private def cutAndRerank(scored: DataFrame, corpus: DataFrame,
                           qFull: DataFrame, idCol: String, vecCol: String,
                           k: Int, candidates: Int): DataFrame = {
    // candidate cut through the engine's own map-side-partial top-k
    // operator instead of a rank window: each task keeps ≤ `candidates`
    // rows per query BEFORE the exchange, so the shuffle carries
    // O(tasks × queries × candidates) skinny rows, never the full scored
    // relation (at 100 TB the scored relation is corpus-sized). The
    // order (approx desc, neighbor_id asc) is TOTAL per query, so the
    // shortlist is identical to the window form — the fixed tiers'
    // oracles hash-pin it.
    val cands = org.apache.spark.sql.graft.TopKPerKeyOps.topKPerKey(
      scored.select("query_id", "neighbor_id", "approx"),
      Seq("query_id"), Seq(("approx", false), ("neighbor_id", true)),
      candidates)
      .select("query_id", "neighbor_id")
    val withVecs = cands
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec")), "neighbor_id")
      .join(broadcast(qFull.select(col("query_id"), col("q_vec"))), "query_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    withVecs.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Product-quantization codebooks: the vector space is split into `m`
    * contiguous subspaces of dims/m components and each subspace gets its
    * own `ksub`-centroid L2 k-means codebook, trained driver-side on the
    * same bounded deterministic hash-sample as [[trainCodebook]], in the
    * UNIT-NORMALIZED space: PQ then approximates dot(q, x/‖x‖), which per
    * query is cosine ranking exactly (the query's own norm is constant
    * across its candidates). Result shape: m × ksub × (dims/m) floats —
    * kilobytes. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
                       maxTrainVectors: Int = 25000, seed: Long = 42L,
                       maxIter: Int = 10): Seq[Seq[Seq[Float]]] = {
    val sample = collectTrainSample(corpus, vecCol, maxTrainVectors,
      s"pq-train-$seed", normalize = true)
    require(sample.nonEmpty, "PQ codebooks: no non-zero training vectors")
    val dims = sample.head.length
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    (0 until m).map { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      kmeansL2(sub, ksub, new scala.util.Random(seed + j), maxIter)
        .map(_.toSeq.map(_.toFloat)).toSeq
    }
  }

  /** Plain L2 Lloyd with k-means++ init on a local sample; empty cells
    * re-seed from the point farthest from its assigned centroid. */
  private def kmeansL2(sample: Array[Array[Double]], k0: Int,
                       rnd: scala.util.Random, maxIter: Int): Array[Array[Double]] = {
    val n = sample.length
    val dims = sample.head.length
    val k = math.min(k0, n)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dims) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val centroids = Array.ofDim[Array[Double]](k)
    centroids(0) = sample(rnd.nextInt(n)).clone()
    val bestD = Array.fill(n)(Double.MaxValue)
    for (c <- 1 until k) {
      var i = 0
      while (i < n) {
        val d = d2(sample(i), centroids(c - 1))
        if (d < bestD(i)) bestD(i) = d
        i += 1
      }
      val total = bestD.sum
      val target = rnd.nextDouble() * total
      var acc = 0.0; var pick = n - 1; var j = 0
      while (j < n && pick == n - 1) {
        acc += bestD(j)
        if (acc >= target) pick = j
        j += 1
      }
      centroids(c) = sample(pick).clone()
    }
    val prevAssign = Array.fill(n)(-1)
    var iter = 0
    var stable = false
    // early exit once no point changes cell: later Lloyd rounds are
    // no-ops, and low-dim subspaces typically settle in ~half of maxIter
    while (iter < maxIter && !stable) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      val assignedD = new Array[Double](n)
      stable = true
      var i = 0
      while (i < n) {
        var best = 0; var bd = d2(sample(i), centroids(0))
        var c = 1
        while (c < k) {
          val d = d2(sample(i), centroids(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        assignedD(i) = bd
        if (prevAssign(i) != best) { stable = false; prevAssign(i) = best }
        counts(best) += 1
        val sum = sums(best)
        var d = 0
        while (d < dims) { sum(d) += sample(i)(d); d += 1 }
        i += 1
      }
      if (!stable) {
        for (c <- 0 until k) {
          if (counts(c) == 0) {
            centroids(c) = sample(assignedD.indices.maxBy(assignedD)).clone()
            stable = false
          } else centroids(c) = sums(c).map(_ / counts(c))
        }
      }
      iter += 1
    }
    centroids
  }

  /** Scan-side PQ encoding of subspace `j` for the unit-normalized row
    * vector: argmin-L2 against the literal sub-codebook, computed as
    * argmax of (dot(x_j, c)/‖x‖ − ‖c‖²/2) — the ‖x̂_j‖² term is constant
    * across candidates, and dividing the subspace dot by the FULL-vector
    * norm `nrm` is exactly the normalized subvector's dot. Same
    * lambda-free struct-greatest shape as [[assignCell]]: dsub
    * multiply-adds per centroid, all codegen'd. */
  def pqCode(vec: Column, nrm: Column, books: Seq[Seq[Seq[Float]]],
             j: Int): Column = {
    val book = books(j)
    val dsub = book.head.length
    val scored = book.zipWithIndex.map { case (c, ci) =>
      val dot = (0 until dsub).map(d =>
        element_at(vec, j * dsub + d + 1) * lit(c(d))).reduce(_ + _)
      val half = c.map(x => x.toDouble * x).sum / 2.0
      struct((dot / nrm - lit(half)).as("s"), lit(-ci).as("ni"))
    }
    if (scored.length == 1) lit(0)
    else (-greatest(scored: _*).getField("ni")).cast("int")
  }

  /** Full-vector L2 norm as plain codegen'd arithmetic (no HOF): dims
    * element_at squares, summed. */
  def vecNorm(vec: Column, dims: Int): Column =
    sqrt((1 to dims).map(d =>
      element_at(vec, d) * element_at(vec, d)).reduce(_ + _))

  /** All `m` PQ codes of the (internally unit-normalized) vector as one
    * array column — a single codegen-called loop
    * ([[org.apache.spark.sql.graft.PqCodes]]). The per-subspace
    * struct-greatest formulation ([[pqCode]]) is kept as the readable
    * reference it is equivalence-tested against; it allocates m·ksub
    * comparison structs per row and measured as the dominant cost of the
    * PQ scan. */
  def pqCodes(vec: Column, books: Seq[Seq[Seq[Float]]]): Column = {
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    val flat = new Array[Float](m * ksub * dsub)
    for (j <- 0 until m; c <- 0 until ksub; d <- 0 until dsub)
      flat((j * ksub + c) * dsub + d) = books(j)(c)(d)
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.PqCodes(
        org.apache.spark.sql.GraftBridge.expression(vec), flat, m, ksub, dsub))
  }

  /** Driver-side ADC lookup tables, one (m·ksub)-float LUT per collected
    * query: lut[j·ksub + c] = dot(q-subvector-j, codeword c of book j).
    * Shared by [[knnPqAdc]] and [[knnIvfPq]] so the two entry points can't
    * drift (same rationale as `cutAndRerank`). Queries are small/bounded
    * by the tier contract — they broadcast regardless; the corpus is never
    * collected. Output columns: (query_id, q_vec, lut). */
  private def adcLutTable(queries: DataFrame, idCol: String, vecCol: String,
                          books: Seq[Seq[Seq[Float]]], m: Int, ksub: Int)
      : DataFrame = {
    import queries.sparkSession.implicits._
    val dsub = books.head.head.length
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
    val luts = qRows.toSeq.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1)
      val lut = new Array[Float](m * ksub)
      for (j <- 0 until m; c <- 0 until ksub) {
        var s = 0.0; var d = 0
        while (d < dsub) { s += qv(j * dsub + d) * books(j)(c)(d); d += 1 }
        lut(j * ksub + c) = s.toFloat
      }
      (qid, qv, lut.toSeq)
    }
    luts.toDF("query_id", "q_vec", "lut")
  }

  /** The ADC score expression over a `lut` + `_codes` pair of columns:
    * approx dot(q, x) = Σ_j lut[j·ksub + code_j] — m array lookups + adds
    * per row, all codegen'd. */
  private def adcScore(m: Int, ksub: Int): Column =
    (0 until m).map(j =>
      element_at(col("lut"),
        element_at(col("_codes"), j + 1) + lit(j * ksub + 1))).reduce(_ + _)

  /** PQ + ADC search (the FAISS "PQx4fs"-family index as a dataflow): the corpus is
    * scanned as m-byte PQ codes — m/(4·dims) of the fp32 scan bandwidth,
    * the at-rest form a 100 TB embedding corpus should be stored in —
    * and each query scores candidates with an asymmetric-distance lookup
    * table (LUT): approx dot(q, x) = Σ_j lut[j·ksub + code_j], m array
    * lookups + adds per row, all codegen'd. The top `candidates` per query
    * re-rank in exact fp32 cosine ([[cutAndRerank]]).
    *
    * The LUTs are computed DRIVER-SIDE from the collected query set —
    * queries are small/bounded by the same contract as every tier here
    * (they broadcast regardless); the corpus is never collected. */
  def knnPqAdc(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               m: Int = 16, ksub: Int = 16, candidates: Int = 50,
               maxTrainVectors: Int = 100000, seed: Long = 42L,
               excludeSelf: Boolean = true): DataFrame = {
    val books = trainPqCodebooks(corpus.select(col(vecCol)), vecCol, m, ksub,
      maxTrainVectors, seed)
    // zero vectors have no cosine direction (same exclusion as knnIvf)
    val encoded = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).as("neighbor_id"),
        pqCodes(col(vecCol), books).as("_codes"))
    val qFull = adcLutTable(queries, idCol, vecCol, books, m, ksub)
    val joined = encoded.crossJoin(broadcast(qFull.select("query_id", "lut")))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    cutAndRerank(kept.withColumn("approx", adcScore(m, ksub)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** IVF + PQ/ADC composed (the FAISS "IVF,PQ" index as a dataflow): the
    * coarse codebook prunes the corpus to `nprobe` of `nlist` cells, the
    * pruned candidates score on their m-byte PQ codes via the query's ADC
    * LUT, and the top `candidates` per query re-rank in exact fp32. The
    * savings multiply exactly as in [[knnIvfSq8]], with PQ's finer
    * compression (m bytes/vector vs dims bytes) on the scan side. */
  def knnIvfPq(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               nlist: Int = 16, nprobe: Int = 4,
               m: Int = 16, ksub: Int = 16, candidates: Int = 50,
               maxTrainVectors: Int = 100000, seed: Long = 42L,
               excludeSelf: Boolean = true): DataFrame = {
    import corpus.sparkSession.implicits._
    val cents = trainCodebook(corpus.select(col(vecCol)), vecCol, nlist,
      maxTrainVectors, seed)
    val books = trainPqCodebooks(corpus.select(col(vecCol)), vecCol, m, ksub,
      maxTrainVectors, seed)
    val assigned = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).as("neighbor_id"),
        assignCell(col(vecCol), cents).as("cell"),
        pqCodes(col(vecCol), books).as("_codes"))
    val cent = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
    val qFull = adcLutTable(queries, idCol, vecCol, books, m, ksub)
    val probes = qFull.crossJoin(broadcast(cent))
      .withColumn("_csim", cosineSim(col("q_vec"), col("centroid")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_csim").desc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "lut", "cell")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    cutAndRerank(kept.withColumn("approx", adcScore(m, ksub)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** A FIXED literal codebook for [[knnIvfFixed]]: centroid j puts weight
    * 100 on every dimension i with i mod nlist == j (an interleaved
    * axis-group partitioning of the space). Deterministic data-independent
    * literals — the property that makes the whole IVF dataflow
    * SQL-replayable, unlike the learned k-means codebooks of the other
    * tiers. */
  def fixedCodebook(nlist: Int, dims: Int): Seq[Seq[Long]] =
    Seq.tabulate(nlist)(j => Seq.tabulate(dims)(i =>
      if (i % nlist == j) 100L else 0L))

  /** Milli-unit integer quantization: q(x) = floor(x·1000) per component.
    * float→double is exact and floor(double·1000) is the same IEEE op in
    * every engine, so downstream INTEGER dot products are bit-exact and
    * combine-order-free — the quantization that lets an ANN query carry a
    * full hash oracle.
    *
    * PRECONDITION: `vec` must contain no null ELEMENTS. The result is
    * wrapped in [[org.apache.spark.sql.graft.KnownNoNullElements]] so
    * consumers (`dot_long`) compile the tight no-null-guard loop; a null
    * element would flow through floor() as a null the narrowed schema
    * declares impossible, and dot_long would read unspecified values —
    * silently, defeating its null-propagation contract. All engine
    * callers feed parquet `array<float>` embeddings with
    * containsNull=false; external callers with nullable elements must
    * coalesce/filter first. (A defensive per-element coalesce here would
    * re-add the exact branch the wrapper exists to remove.) */
  def quantizeMilli(vec: Column): Column =
    // KnownNoNullElements: transform() always infers containsNull=true,
    // which would compile a per-element null guard into dot_long's hot
    // loop (~17% on knn_ivf_pq_fixed); every element here is provably
    // floor(x·1000) of a present float
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.KnownNoNullElements(
        org.apache.spark.sql.GraftBridge.expression(
          transform(vec, x => floor(x.cast("double") * lit(1000)).cast("long")))))

  /** Integer dot product of a quantized vector column against a literal
    * integer vector. */
  private def intDotLit(iq: Column, cent: Seq[Long]): Column =
    dotLong(iq, typedLit(cent))

  /** Deterministic cell of `vec` under the literal integer codebook —
    * the public form of the fixed-codebook assignment, shared by the
    * at-rest layouts and [[Dedup.semanticDedup]]'s cell blocking. */
  def cellOf(vec: Column, centroids: Seq[Seq[Long]]): Column =
    fixedCell(quantizeMilli(vec), centroids)

  /** [[cellOf]] over an ALREADY-quantized integer vector (callers that
    * reuse the quantized form across cell + score, e.g.
    * [[Embeddings.prototypePrune]]). */
  def cellOfQuantized(iq: Column, centroids: Seq[Seq[Long]]): Column =
    fixedCell(iq, centroids)

  /** The exact integer similarity of a quantized vector to its OWN
    * (argmax) cell centroid — by definition the max dot over the
    * codebook, so no cell lookup is needed. */
  def cellScoreQuantized(iq: Column, centroids: Seq[Seq[Long]]): Column =
    greatest(centroids.map(c => intDotLit(iq, c)): _*)

  /** Argmax cell over the literal codebook, ties to the SMALLEST cell
    * index (greatest-struct on (score, -index)). */
  private def fixedCell(iq: Column, centroids: Seq[Seq[Long]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, j) =>
      struct(intDotLit(iq, c).as("s"), lit(-j).as("nj"))
    }
    -greatest(scored: _*).getField("nj")
  }

  /** IVF over a FIXED literal codebook with exact-integer scoring — the
    * one ANN tier whose every step (quantize, cell argmax, probe ranking,
    * candidate scoring, top-k) is replayable in ANSI SQL, so the driver's
    * hash oracle covers the complete IVF dataflow end-to-end (the learned-
    * codebook tiers pin recall in spec instead). Same scale shape as
    * [[knnIvf]]: the corpus partitions by cell, each query probes `nprobe`
    * cells, candidates score integer-exact and the top `k` rank per query.
    * Output: (query_id, neighbor_id, rank, score), all BIGINT. */
  def knnIvfFixed(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  centroids: Seq[Seq[Long]], nprobe: Int = 2,
                  excludeSelf: Boolean = true): DataFrame = {
    require(centroids.size >= 2, "at least two cells")
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .withColumn("cell", fixedCell(col("c_iq"), centroids))
    ivfFixedRank(assigned, fixedProbes(queries, idCol, vecCol,
      centroids, nprobe), k, excludeSelf)
  }

  /** The query side of the fixed-codebook tier: each query's `nprobe`
    * best cells by integer dot against the literal codebook. */
  private def fixedProbes(queries: DataFrame, idCol: String, vecCol: String,
                          centroids: Seq[Seq[Long]],
                          nprobe: Int): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        quantizeMilli(col(vecCol)).as("q_iq"))
      .select(col("query_id"), col("q_iq"),
        posexplode(array(centroids.map(c => intDotLit(col("q_iq"), c)): _*))
          .as(Seq("cell", "cs")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cs").desc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q_iq", "cell")

  /** Measured IVF recall@k: [[knnIvfFixed]] at the operating `nprobe`
    * against ITSELF probing EVERY cell — probe-all IS the exact integer-
    * dot brute force (each corpus vector lives in exactly one cell, so
    * all cells = all candidates), which isolates the one thing nprobe
    * trades (probe misses) from quantization, normalization and tie
    * semantics (identical in both arms by construction). Per query:
    * (n_exact, n_found, recall_ppm) — the measurement an nprobe choice
    * should be judged by, on the corpus' own geometry.
    *
    * Scale shape: two runs of the fixed tier (the exact arm scores
    * nlist/nprobe× more candidates — still the bounded-query-set
    * broadcast shape) + one pair-keyed join of two ≤ |queries|·k
    * relations. */
  def ivfRecallEval(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    centroids: Seq[Seq[Long]], nprobe: Int): DataFrame = {
    val ivf = knnIvfFixed(corpus, queries, idCol, vecCol, k, centroids,
      nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_f"))
    val exact = knnIvfFixed(corpus, queries, idCol, vecCol, k, centroids,
      nprobe = centroids.size)
    exact.join(ivf, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_f"), lit(0L))).as("n_found"))
      .withColumn("recall_ppm", expr(
        "cast(cast(n_found as decimal(38,0)) * 1000000 div n_exact" +
          " as bigint)"))
  }

  /** Shared scoring tail of the fixed-codebook tier: candidates from the
    * cell equi-join (probes broadcast), exact-integer scores, top-k. One
    * body for the in-memory and at-rest paths so their ranking semantics
    * cannot drift. */
  private def ivfFixedRank(assigned: DataFrame, probes: DataFrame, k: Int,
                           excludeSelf: Boolean): DataFrame = {
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("score",
      dotLong(col("q_iq"), col("c_iq")))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** PQ code of subspace `j` under the FIXED one-hot sub-books, on the
    * milli-quantized vector: sub-book j's codeword c puts weight `w` on
    * local dimension c and 0 elsewhere (ksub == dsub — [[fixedCodebook]]'s
    * axis-group construction one level down), so argmin-L2 == argmax of
    * the codeword dot == argmax_c q[j·dsub+c] (the ‖c‖² term is constant
    * across c and the ‖q‖² term across codewords), ties to the smallest
    * code. Same lambda-free struct-greatest shape as [[fixedCell]]. */
  private def fixedPqCode(iq: Column, j: Int, dsub: Int): Column = {
    val scored = (0 until dsub).map { c =>
      struct(element_at(iq, j * dsub + c + 1).as("s"), lit(-c).as("nc"))
    }
    (-greatest(scored: _*).getField("nc")).cast("long")
  }

  /** All m fixed-book PQ codes of the milli-quantized vector. */
  private def fixedPqCodes(iq: Column, m: Int, dsub: Int): Column =
    array((0 until m).map(j => fixedPqCode(iq, j, dsub)): _*)

  /** Shared ADC scoring tail of the fixed-PQ tier: candidates carry the
    * corpus side's `_codes` and the query side's `q_iq`; the asymmetric-
    * distance score is Σ_j lut[j][code_j] where the one-hot LUT collapses
    * to `weight · q_iq[j·dsub + code_j]` — m integer array lookups + adds
    * per row, all codegen'd, exactly replayable in SQL. */
  private def pqAdcFixedRank(kept: DataFrame, k: Int, m: Int, dsub: Int,
                             weight: Long): DataFrame = {
    val score = (0 until m).map(j =>
      lit(weight) * element_at(col("q_iq"),
        (element_at(col("_codes"), j + 1) + lit(j * dsub + 1)).cast("int")))
      .reduce(_ + _)
    kept.withColumn("score", score)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** PQ + ADC over FIXED one-hot sub-codebooks with exact-integer scoring
    * — the PQ twin of [[knnIvfFixed]]: encode (integer argmax per
    * subspace), LUT build and ADC scan are all replayable in ANSI SQL, so
    * the driver's hash oracle covers the complete PQ dataflow end-to-end;
    * the learned-codebook [[knnPqAdc]] pins recall in spec instead. Same
    * scale shape: the corpus scans once as m-long code rows, queries
    * broadcast. Output (query_id, neighbor_id, rank, score), all BIGINT. */
  def knnPqAdcFixed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dims: Int, dsub: Int = 4,
                    weight: Long = 100L,
                    excludeSelf: Boolean = true): DataFrame = {
    require(dims % dsub == 0, "dims must split into dsub-wide subspaces")
    val m = dims / dsub
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .select(col("neighbor_id"), fixedPqCodes(col("c_iq"), m, dsub).as("_codes"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      quantizeMilli(col(vecCol)).as("q_iq"))
    val joined = assigned.crossJoin(broadcast(q))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    pqAdcFixedRank(kept, k, m, dsub, weight)
  }

  /** IVF + PQ/ADC composed over FIXED structures — the oracle-able twin
    * of [[knnIvfPq]]: the literal coarse codebook prunes to `nprobe`
    * cells, candidates score on fixed-book PQ codes, everything integer-
    * exact and SQL-replayable. */
  def knnIvfPqFixed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, centroids: Seq[Seq[Long]],
                    dims: Int, dsub: Int = 4, weight: Long = 100L,
                    nprobe: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    require(dims % dsub == 0, "dims must split into dsub-wide subspaces")
    val m = dims / dsub
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .select(col("neighbor_id"),
        fixedCell(col("c_iq"), centroids).as("cell"),
        fixedPqCodes(col("c_iq"), m, dsub).as("_codes"))
    val probes = fixedProbes(queries, idCol, vecCol, centroids, nprobe)
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    pqAdcFixedRank(kept, k, m, dsub, weight)
  }

  /** IVF + SQ8 over the FIXED literal codebook — the oracle-able twin of
    * [[knnIvfSq8]], composing three individually-proven-replayable
    * pieces under ONE hash oracle: literal-codebook cell pruning (exact
    * integers — the `knn_ivf_fixed` replay), int8-code candidate scoring
    * (round(x·127/maxabs) codes + the integer-ratio cosine — the
    * `knn_int8_rerank` replay) and the exact fp32 re-rank (the
    * `knn_brute` replay). Same scale shape as the learned tier: corpus
    * partitions by cell, probes broadcast, fp32 touched only for the
    * top-`candidates` survivors. */
  def knnIvfSq8Fixed(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     centroids: Seq[Seq[Long]], nprobe: Int = 2,
                     candidates: Int = 25,
                     excludeSelf: Boolean = true): DataFrame = {
    val assigned = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        int8Codes(col(vecCol)).as("c8"),
        fixedCell(quantizeMilli(col(vecCol)), centroids).as("cell"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    val probes = fixedProbes(queries, idCol, vecCol, centroids, nprobe)
      .select("query_id", "cell")
      .join(broadcast(qFull.select(col("query_id"), col("q8"))), "query_id")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }

  /** Cell-partitioned at-rest layout of the FIXED-codebook tier — the
    * oracle-able twin of [[writeIvf]]: assignment is the deterministic
    * integer argmax, so queries over the layout replay exactly in SQL.
    * `append = true` is the incremental-growth path ([[appendToIvf]]'s
    * contract): new files land next to the existing cells' files, nothing
    * existing is rewritten, and because the codebook is literal there is
    * no drift caveat at all — append is ALWAYS equivalent to a rebuild. */
  def writeIvfFixed(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, centroids: Seq[Seq[Long]],
                    append: Boolean = false,
                    extraCols: Seq[String] = Nil): Unit =
    // extraCols: metadata the layout carries for FILTERED search (labels,
    // timestamps, source tags) — plain parquet columns inside each cell
    // partition, so a search-time predicate on them gets row-group
    // min/max skipping on top of the cell partition pruning
    corpus.select(col(idCol) +: col(vecCol) +: extraCols.map(col): _*)
      .withColumn("cell", fixedCell(quantizeMilli(col(vecCol)), centroids))
      .write.partitionBy("cell")
      .mode(if (append) "append" else "overwrite")
      .parquet(s"$path/data")

  /** [[knnIvfFixed]] over a [[writeIvfFixed]] layout: probe cells become
    * a partition filter — only those cells' files are read. Identical
    * output to the in-memory form on the same corpus (shared ranking
    * tail), which is what lets an APPENDED layout answer under the same
    * SQL oracle as `knn_ivf_fixed`. */
  def knnIvfFixedPartitioned(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             centroids: Seq[Seq[Long]], nprobe: Int = 2,
                             excludeSelf: Boolean = true,
                             preFilter: Option[Column] = None): DataFrame = {
    // cache the probe plan: it is executed twice — once collected for the
    // partition-pruning cell list, once as the ranking join's broadcast
    // side — and without the cache the posexplode-over-codebook work ran
    // twice per call (queries are small by contract, so the cache is tiny)
    val probes = fixedProbes(queries, idCol, vecCol, centroids, nprobe)
      .pin()
    // query-side cells, driver-collected (queries are small by contract)
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    // preFilter: FILTERED ANN — a metadata predicate over the layout's
    // extra columns, applied on the raw scan so it reaches the parquet
    // reader (PushedFilters row-group skipping) UNDER the cell partition
    // pruning; candidates that fail it never quantize, score, or rank
    val base = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(probeCells: _*)) // partition pruning
    val assigned = preFilter.fold(base)(base.where)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"), col("cell"))
    ivfFixedRank(assigned, probes, k, excludeSelf)
  }

  // ---- trained-exact IVF: the k-means tier under a FULL hash oracle ----
  // ---- (r17). The codebook comes from Embeddings.exactCentroids — ----
  // ---- integer-exact, seed-free Lloyd's — so unlike the float-trained ----
  // ---- knnIvf the whole dataflow (train, assign, probe, score, top-k) ----
  // ---- is a pure function of the data that ANSI SQL replays. ----

  /** Probe set under a TRAINED integer codebook: each query's `nprobe`
    * cells by smallest exact squared-L2 distance (expanded form
    * −2·q·c + |c|²; the per-query |q|² constant cannot change a ranking
    * or its ties), ties to the smallest cell id — the same metric the
    * exact k-means trained with, so probes walk the trained geometry. */
  private def exactProbes(queries: DataFrame, idCol: String, vecCol: String,
                          centroids: Seq[Seq[Long]],
                          nprobe: Int): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        quantizeMilli(col(vecCol)).as("q_iq"))
      .select(col("query_id"), col("q_iq"),
        posexplode(array(centroids.map(c =>
          lit(-2L) * intDotLit(col("q_iq"), c) +
            lit(c.map(x => x * x).sum)): _*))
          .as(Seq("cell", "d2")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("d2").asc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q_iq", "cell")

  /** IVF over a TRAINED integer codebook ([[Embeddings.exactCentroids]]
    * — exact-arithmetic Lloyd's k-means in milli-quantized space): cell
    * assignment and probe ranking use the squared-L2 argmin the training
    * optimized (ties to the smallest cell), candidate scoring and the
    * top-k use the exact integer dot — every step deterministic and
    * SQL-replayable, so the TRAINED tier carries the same full hash
    * oracle as the fixed-codebook twin (previously rows-only; the
    * float-trained [[knnIvf]] stays as the sampled-training scale path).
    * Same scale shape as [[knnIvf]]: scan-side assignment against the
    * literal codebook, candidates from corpus ⋈ broadcast(probes), the
    * corpus never shuffles. Output shape of [[knnIvfFixed]]. */
  def knnIvfExact(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  centroids: Seq[Seq[Long]], nprobe: Int = 4,
                  excludeSelf: Boolean = true): DataFrame = {
    require(centroids.size >= 2, "at least two cells")
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .withColumn("cell", Embeddings.exactCell(col("c_iq"), centroids))
    ivfFixedRank(assigned, exactProbes(queries, idCol, vecCol,
      centroids, nprobe), k, excludeSelf)
  }

  /** Materialize the corpus partitioned by TRAINED-exact cell — the
    * at-rest layout of [[knnIvfExact]]: `<path>/data` partitioned by
    * cell, `<path>/centroids` as a tiny integer-codebook parquet. */
  def writeIvfExact(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, centroids: Seq[Seq[Long]]): Unit = {
    import corpus.sparkSession.implicits._
    corpus.select(col(idCol), col(vecCol))
      .withColumn("cell",
        Embeddings.exactCell(quantizeMilli(col(vecCol)), centroids))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/data")
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** The persisted integer codebook of a [[writeIvfExact]] layout,
    * cell-ordered. */
  def readIvfExactCodebook(spark: org.apache.spark.sql.SparkSession,
                           path: String): Seq[Seq[Long]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell")
      .collect()
      .map(r => r.getSeq[Long](1))
      .toSeq

  private val ivfExactLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The [[writeIvfExact]] layout for `corpus` under dataset key `key`,
    * training the exact codebook and building the layout at most once per
    * key per JVM ([[ivfLayoutFor]]'s contract for the trained-exact
    * tier). */
  def ivfExactLayoutFor(corpus: DataFrame, idCol: String, vecCol: String,
                        key: String, dim: Int, nlist: Int = 16,
                        iters: Int = 2,
                        baseDir: String =
                          sys.props("java.io.tmpdir") + "/graft-ivf-exact")
      : String =
    ivfExactLayouts.computeIfAbsent(key, { _ =>
      val safe = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
      val path = s"$baseDir/$safe"
      val cents = Embeddings.exactCentroids(corpus.select(
        col(idCol), col(vecCol)), idCol, vecCol, dim, nlist, iters)
      writeIvfExact(corpus, idCol, vecCol, path, cents)
      path
    })

  /** [[knnIvfExact]] over a [[writeIvfExact]] layout: probe cells become
    * a partition filter — only those cells' files are read. Identical
    * output to the in-memory form on the same corpus (shared ranking
    * tail + the same trained codebook persisted at build time), which is
    * what lets the at-rest tier answer under the SAME SQL oracle as
    * `knn_ivf`. */
  def knnIvfExactPartitioned(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             nprobe: Int = 4,
                             excludeSelf: Boolean = true): DataFrame = {
    val centroids = readIvfExactCodebook(spark, path)
    // pinned: executed twice (cell list + ranking broadcast side)
    val probes = exactProbes(queries, idCol, vecCol, centroids, nprobe)
      .pin()
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(probeCells: _*)) // partition pruning
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"), col("cell"))
    ivfFixedRank(assigned, probes, k, excludeSelf)
  }

  /** IVF,SQ8 over the TRAINED exact codebook (r17): cell pruning from
    * [[Embeddings.exactCentroids]]' integer k-means (the [[knnIvfExact]]
    * assignment/probe rules) composed with the int8 code scan and fp32
    * re-rank of [[knnIvfSq8]] — every stage already SQL-replayable in
    * isolation, so the composed TRAINED tier carries a full hash oracle
    * (the float sampled-training form stays recall-pinned). Same scale
    * shape: scan-side assignment, broadcast probes, int8-bandwidth
    * corpus scan, candidates-only fp32 fetch. */
  def knnIvfSq8Exact(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     centroids: Seq[Seq[Long]], nprobe: Int = 4,
                     candidates: Int = 25,
                     excludeSelf: Boolean = true): DataFrame = {
    val assigned = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        int8Codes(col(vecCol)).as("c8"),
        Embeddings.exactCell(quantizeMilli(col(vecCol)), centroids)
          .as("cell"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    val probes = exactProbes(queries, idCol, vecCol, centroids, nprobe)
      .select("query_id", "cell")
      .join(broadcast(qFull.select(col("query_id"), col("q8"))), "query_id")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }

  private val exactPqBookCache =
    new graft.SessionMemo[(String, Int, Int, Int, Int), Seq[Seq[Seq[Long]]]]()

  /** TRAINED-exact PQ sub-codebooks (r17): subspace `j`'s book is the
    * exact integer k-means ([[Embeddings.exactCentroids]]) of the j-th
    * `dim/m`-component slice of the embedding — integer milli-space,
    * seed-free init, L2 argmin, floor-average updates — so the whole
    * m-book set is a pure function of the data that SQL re-derives
    * (slice-then-quantize == quantize-then-slice, elementwise floor).
    * All m books train in ONE Lloyd loop
    * ([[Embeddings.trainExactBooks]]): per iteration one scan encodes
    * every subspace and one aggregate over (subspace, code, component)
    * updates every book, so the job count does not grow with m. Unlike
    * the float [[trainPqCodebooks]] there is NO normalization: codes
    * quantize the raw vector and ADC ranks by exact integer squared-L2,
    * the metric the books were trained with (the fp32 cosine re-rank
    * restores the cosine semantics on the shortlist, as in every
    * quantized tier). Memoized per dataset (the
    * [[Embeddings.exactCentroidsFor]] contract). */
  def exactPqBooksFor(embs: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, ksub: Int = 16, iters: Int = 2,
                      key: String): Seq[Seq[Seq[Long]]] =
    exactPqBookCache.getOrCompute(embs.sparkSession,
        (key, dim, m, ksub, iters)) {
      Embeddings.trainExactBooks(
        Embeddings.quantizedBase(embs, idCol, vecCol, 1000),
        dim, m, ksub, iters)
    }

  /** PQ/ADC search over TRAINED-exact sub-codebooks (r17): encode =
    * per-subspace integer L2 argmin against book `j` (ties to the
    * smallest code — [[Embeddings.pqCodesLong]]), ADC LUT per query =
    * `−2·q_j·c + |c|²` per codeword (the per-(query, subspace) `|q_j|²`
    * constant cannot change a ranking), candidates ranked by summed ADC
    * distance ascending, fp32 cosine re-rank of the shortlist — every
    * stage integer-exact or IEEE-portable, so the TRAINED PQ tier
    * carries a full hash oracle (the float sampled-training
    * [[knnPqAdc]] stays recall-pinned). Same scale shape: the corpus
    * scans m-byte-ish codes, LUTs broadcast, fp32 touches only
    * |queries|×candidates rows. */
  def knnPqAdcExact(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    books: Seq[Seq[Seq[Long]]], dim: Int,
                    candidates: Int = 25,
                    excludeSelf: Boolean = true): DataFrame = {
    require(books.nonEmpty && dim % books.size == 0)
    val m = books.size
    val dsub = dim / m
    // encode via the codegen'd one-loop kernel: the Column form
    // (per-subspace least over ksub structs) fell out of whole-stage
    // codegen at m=16 and ran interpreted — measured as the dominant
    // cost of the exact PQ scan (see PqCodesLong's scaladoc)
    val encoded = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        Embeddings.pqCodesLong(quantizeMilli(col(vecCol)), books)
          .as("_codes"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), quantizeMilli(col(vecCol)).as("q_iq"))
    // LUTs are |queries|-bounded — the Column form is fine on this side
    val luts = pqAdcLuts(qFull, books, dsub)
    val joined = encoded.crossJoin(broadcast(luts))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // cutAndRerank orders approx DESC — negate the (ascending) distance
    cutAndRerank(kept.withColumn("approx", -pqAdcSum(books)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** ADC LUT table per query — ONE flat `array<long>` column `_lut` of
    * m·ksub exact integer terms `lut[j·ksub + c] = −2·q_j·c + |c|²` — and
    * its summed-lookup twin below: ONE copy shared by the flat-PQ and
    * IVF-PQ trained tiers so the LUT indexing and the ADC sum can never
    * drift between them (r17 review). The previous per-subspace Column
    * form (m array columns × ksub inlined dot_long kernels) generated a
    * >10k-line codegen fragment that failed Janino and ran interpreted
    * after a doomed ~1 s compile attempt PER EXECUTION (r18); the
    * [[org.apache.spark.sql.graft.PqAdcLutLong]] kernel is the same
    * integers as one compact loop. */
  private def pqAdcLuts(qFull: DataFrame, books: Seq[Seq[Seq[Long]]],
                        dsub: Int): DataFrame =
    qFull.select(col("query_id"),
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.graft.PqAdcLutLong(
          org.apache.spark.sql.GraftBridge.expression(col("q_iq")),
          books.flatten.flatten.toArray, books.size, books.head.size, dsub))
        .as("_lut"))

  /** Summed integer ADC distance of `_codes` against the flat `_lut`:
    * Σ_j lut[j·ksub + code_j] — m element_at lookups, codegen-compact. */
  private def pqAdcSum(books: Seq[Seq[Seq[Long]]]): Column = {
    val ksub = books.head.size
    books.indices.map(j =>
      element_at(col("_lut"),
        element_at(col("_codes"), j + 1) + lit(j * ksub + 1)))
      .reduce(_ + _)
  }

  /** IVF + PQ/ADC over TRAINED-exact codebooks (r17): [[knnIvfExact]]'s
    * coarse cell pruning composed with [[knnPqAdcExact]]'s code scoring —
    * the FAISS "IVF,PQ" matrix closed in its TRAINED form under one hash
    * oracle (the float [[knnIvfPq]] stays recall-pinned). */
  def knnIvfPqExact(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    coarse: Seq[Seq[Long]], books: Seq[Seq[Seq[Long]]],
                    dim: Int, nprobe: Int = 4, candidates: Int = 25,
                    excludeSelf: Boolean = true): DataFrame = {
    require(books.nonEmpty && dim % books.size == 0)
    val m = books.size
    val dsub = dim / m
    val encoded = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("_iq"))
      .select(col("neighbor_id"),
        Embeddings.exactCell(col("_iq"), coarse).as("cell"),
        Embeddings.pqCodesLong(col("_iq"), books).as("_codes"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), quantizeMilli(col(vecCol)).as("q_iq"))
    val luts = pqAdcLuts(qFull, books, dsub)
    val probes = exactProbes(queries, idCol, vecCol, coarse, nprobe)
      .select("query_id", "cell")
      .join(broadcast(luts), "query_id")
    val joined = encoded.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    cutAndRerank(kept.withColumn("approx", -pqAdcSum(books)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** Partition-pruned RADIUS search over the at-rest fixed-codebook IVF
    * layout — [[knnRadius]]'s scale form: only the queries' `nprobe`
    * nearest cells are READ from disk (cell partition pruning), then the
    * same exact integer ball test runs within the probed candidates.
    * Deterministic end to end (fixed codebook → fixed probe cells →
    * fixed candidate set), so unlike learned-codebook ANN the PRUNED
    * result itself is hash-oracled. Recall vs the full-scan
    * [[knnRadius]] trades with `nprobe` exactly as in IVF top-k — a
    * neighbor whose cell is never probed is missed; the containment law
    * (pruned ⊆ full) is spec-pinned. */
  def knnRadiusFixedPartitioned(spark: org.apache.spark.sql.SparkSession,
                                path: String, queries: DataFrame,
                                idCol: String, vecCol: String,
                                centroids: Seq[Seq[Long]], nprobe: Int = 2,
                                simSqPpm: Long = 810000L,
                                excludeSelf: Boolean = true): DataFrame = {
    require(simSqPpm >= 0 && simSqPpm <= 1000000L,
      "simSqPpm is cos² in parts-per-million: [0, 1000000]")
    val probes = fixedProbes(queries, idCol, vecCol, centroids, nprobe)
      .pin()
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(probeCells: _*)) // partition pruning
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"), col("cell"))
    val d = (x: Column) => x.cast("decimal(19,0)")
    val joined = assigned.join(broadcast(probes), "cell")
      .withColumn("score", dotLong(col("q_iq"), col("c_iq")))
      .withColumn("n2_q", dotLong(col("q_iq"), col("q_iq")))
      .withColumn("n2_c", dotLong(col("c_iq"), col("c_iq")))
      .where(col("score") > 0 &&
        d(col("score")) * d(col("score")) * d(lit(1000000L)) >=
          d(lit(simSqPpm)) * d(col("n2_c")) * d(col("n2_q")))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // a corpus vector lives in exactly ONE stored cell, so a (query,
    // neighbor) pair meets at most once — no dedup pass needed
    kept.select(col("query_id"), col("neighbor_id"), col("score"))
  }

  /** Scalar-quantized (SQ8) search: score the WHOLE corpus on int8 codes
    * (1 byte/component — a quarter of the fp32 scan bandwidth, the form a
    * 100 TB embedding corpus should be scanned in), keep the top
    * `candidates` per query, then re-rank only those survivors in exact
    * fp32 cosine. The quantization scales cancel inside
    * [[graft.functions.GraftFunctions.int8Cosine]]'s ratio, so the code
    * scan carries no side data. With `candidates` a few multiples of `k`,
    * recall@k is near-1 (pinned in `SimilaritySpec`); the fp32 fetch
    * touches only |queries| x candidates rows via a semi-join shape, never
    * the corpus at large. */
  def knnInt8Rerank(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    candidates: Int = 50,
                    excludeSelf: Boolean = true): DataFrame = {
    val qFull = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    // phase 1: int8-only corpus scan (no fp32 vectors materialized)
    val cCodes = corpus.select(col(idCol).as("neighbor_id"),
      int8Codes(col(vecCol)).as("c8"))
    val joined = cCodes.crossJoin(broadcast(qFull.select(col("query_id"), col("q8"))))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // phase 2 (shared tail): int8 cut, then fp32 re-rank of survivors only
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }
}
