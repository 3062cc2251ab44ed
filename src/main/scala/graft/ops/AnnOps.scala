package graft.ops

import graft.functions.{CosineSim, HyperplaneKeys, HyperplaneProbes, PqDecode, PqEncode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.11 J8/J9 — similarity search over embedding columns.
  *
  * Brute-force cosine (TextOps.j8_sim_topk) is the exact baseline; this
  * file is the scale path: random-hyperplane LSH bucketing so the
  * candidate join is an equi-join on bucket keys instead of a cross join.
  * Hyperplanes are derived from seeded xxhash64 — fully deterministic,
  * no RNG state to ship to executors, and the whole signature pipeline
  * stays inside whole-stage codegen.
  *
  * At 100 TB: corpus side is hashed once and written bucket-partitioned
  * (one shuffle); each probe batch touches only matching buckets —
  * multi-probe ([[annTopK]]'s `multiProbe` knob: probing Hamming-1
  * neighbor buckets) trades recall for bucket fan-out without rehashing
  * the corpus.
  */
object AnnOps {

  /** Deterministic hyperplane component: hash(plane, dim) mapped to a
    * signed double. Scale is irrelevant — only the dot-product sign is
    * used.
    */
  private def planeComp(p: Column, j: Column): Column =
    xxhash64(p, j).cast("double")

  /** Sign bit of emb · plane(p) for one hyperplane. */
  private def planeBit(emb: Column, p: Column, dim: Int): Column =
    when(aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, j) => acc + element_at(emb, j).cast("double") * planeComp(p, j)) >= 0, 1L)
      .otherwise(0L)

  /** Random-hyperplane LSH bucket key: nBits sign bits packed into a long.
    * P(bit match) = 1 - angle/π, so close vectors collide with high
    * probability. `table` offsets the plane ids so each hash table draws
    * independent hyperplanes.
    *
    * This is the REFERENCE spelling (interpreted HOF lambdas — tables ×
    * nBits × dim closure dispatches per row); the hot path is the
    * bit-identical native [[graft.functions.HyperplaneKeys]] expression
    * used by [[bucketed]], equality-pinned in AnnSpec.
    */
  private[graft] def hyperplaneKeyHof(emb: Column, nBits: Int, dim: Int, table: Column): Column =
    aggregate(sequence(lit(0), lit(nBits - 1)), lit(0L),
      (acc, p) => acc * 2 + planeBit(emb, p + table * 1024, dim))

  /** Corpus bucketed under `tables` independent hash tables (standard
    * multi-table LSH: a pair is a candidate if it collides in ANY table).
    * Keys come from the native codegen'd `graft_hyperplane_keys` — one
    * fused loop per row instead of tables × nBits × dim interpreted
    * lambdas (the 1000× smoke measured the HOF bucketing dominating the
    * whole near-dup pipeline at 200k vectors).
    */
  def bucketed(emb: DataFrame, nBits: Int = 12, tables: Int = 4): DataFrame = {
    emb.select(col("vec_id"), col("embedding"),
      posexplode(HyperplaneKeys.of(col("embedding"), nBits, tables)))
      .select(col("vec_id"), col("embedding"),
        col("pos").as("tbl"), col("col").as("key"))
  }

  /** Probe-side bucket keys: the probe's own bucket per table, plus (for
    * multiProbe = m > 0) the m buckets at Hamming distance 1 chosen by
    * MARGIN — the native [[graft.functions.HyperplaneProbes]] expression
    * flips the m lowest-|dot| planes, the sign bits a true near neighbor
    * is most likely to disagree on (multi-probe LSH: probe order follows
    * the margin, not the bit position). Probe-side fan-out only; the
    * corpus stays bucketed once. AnnSpec gates recall@5 ≥ the positional
    * first-m variant at equal fan-out.
    */
  private[graft] def probeBuckets(probes: DataFrame, nBits: Int, tables: Int,
                                  multiProbe: Int): DataFrame =
    if (multiProbe <= 0)
      bucketed(probes, nBits, tables)
        .select(col("tbl"), col("key"), col("vec_id").as("pid"))
    else {
      val mm = math.min(multiProbe, nBits)
      // layout is table-major, (mm+1) keys per table → pos div (mm+1)
      // recovers the table id
      probes.select(col("vec_id").as("pid"),
          posexplode(HyperplaneProbes.of(col("embedding"), nBits, tables, multiProbe)))
        .select((col("pos") / (mm + 1)).cast("int").as("tbl"),
          col("col").as("key"), col("pid"))
    }

  /** Positional first-m multi-probe (flip planes 0..m-1 regardless of
    * margin) — kept as the REFERENCE spelling the margin-ranked
    * [[probeBuckets]] must beat-or-match on recall at equal fan-out
    * (AnnSpec pins the gate). Not on any query path.
    */
  private[graft] def probeBucketsFirstM(probes: DataFrame, nBits: Int, tables: Int,
                                        multiProbe: Int): DataFrame = {
    val pbBase = bucketed(probes, nBits, tables)
      .select(col("tbl"), col("key"), col("vec_id").as("pid"))
    val masks = array((lit(0L) +:
      (0 until math.min(multiProbe, nBits)).map(p => lit(1L << (nBits - 1 - p)))): _*)
    pbBase.select(col("tbl"), col("pid"),
      explode(transform(masks, m => col("key").bitwiseXOR(m))).as("key"))
  }

  /** ANN top-k: probes and corpus hashed with the same tables; candidates
    * = bucket-collision pairs; exact cosine re-rank picks top-k.
    *
    * The multi-table union is deduped on the (pid, vec_id) ID PAIR ONLY —
    * embeddings are re-joined by id afterwards, so the distinct's Exchange
    * moves ~16 B/candidate instead of two full vectors (the same
    * move-ids-not-payloads rule DedupOps applies to MinHash signatures).
    * Probe embeddings re-attach via broadcast (probe batches are small by
    * construction); corpus embeddings via an equi-join on vec_id, where
    * the candidate side is the small one and AQE broadcasts it.
    *
    * `multiProbe` = m > 0 additionally probes, per table, the m buckets
    * at Hamming distance 1 from the probe's own bucket (one sign bit
    * flipped — [[probeBuckets]]) — the standard multi-probe LSH
    * recall/fan-out trade: more candidate buckets per probe WITHOUT
    * rehashing or re-shuffling the corpus, exactly the knob a 100 TB
    * corpus wants turned instead of more hash tables. Flipped planes are
    * MARGIN-RANKED (lowest |dot| first — [[probeBuckets]]): per probe,
    * the planes the vector sits closest to are exactly where a true
    * neighbor most likely landed on the other side, so each extra probe
    * buys more recall than a positional flip would.
    */
  def annTopK(corpus: DataFrame, probes: DataFrame, k: Int = 5,
              nBits: Int = 12, tables: Int = 4, multiProbe: Int = 0): DataFrame = {
    val cb = bucketed(corpus, nBits, tables).select(col("tbl"), col("key"), col("vec_id"))
    val pb = probeBuckets(probes, nBits, tables, multiProbe)
    val candIds = pb.join(cb, Seq("tbl", "key"))
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"))
      .distinct()
    val cands = candIds
      .join(broadcast(probes.select(col("vec_id").as("pid"), col("embedding").as("p_emb"))), "pid")
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
    // native codegen'd cosine (bit-identical to the HOF spelling per
    // CosineSimSpec) — the re-rank runs over every candidate pair, so the
    // interpreted zip_with/aggregate form dominates at corpus scale
    val sims = cands.select(col("pid"), col("vec_id"),
      CosineSim.of(col("p_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("pid", "vec_id", "rn", "sim")
  }

  /** Candidate (a < b) id pairs of the cosine near-dup path — the LSH
    * "find" stage, exposed separately so the 1000× smoke can time find
    * vs verify (the cosine re-rank) independently.
    *
    * The band self-join and the distinct's Exchange never carry vectors —
    * only (tbl, key, vec_id); embeddings re-attach by id in
    * [[cosineNearDupPairs]] after the pair set is small.
    *
    * `maxBucket` is the same LSH skew guard DedupOps.candidatePairs
    * applies: with fixed nBits a growing corpus packs O(n/2^nBits)
    * vectors per bucket and the self-join goes quadratic (the 1000×
    * smoke measured 184 s at 200k uniform vectors — every bucket ~195
    * members). Buckets above the cap contribute an O(B) star to their
    * min-vec_id representative instead of O(B²) pairs: genuine
    * mass-duplicate clusters stay connected through the representative
    * while undiscriminating buckets die cheaply in the cosine filter.
    * Same residual-recall trade-off as DedupOps (documented there).
    */
  def cosineCandidatePairs(emb: DataFrame, nBits: Int = 10, tables: Int = 4,
                           maxBucket: Int = 200): DataFrame = {
    val b = bucketed(emb, nBits, tables).select(col("tbl"), col("key"), col("vec_id"))
    val sizes = b.groupBy("tbl", "key")
      .agg(count(lit(1)).as("bn"), min("vec_id").as("rep"))
    val hot = sizes.where(col("bn") > maxBucket).select("tbl", "key", "rep")
    val cold = b.join(broadcast(hot.select("tbl", "key")), Seq("tbl", "key"), "left_anti")
    val l = cold.select(col("tbl"), col("key"), col("vec_id").as("a"))
    val r = cold.select(col("tbl"), col("key"), col("vec_id").as("b"))
    val coldPairs = l.join(r, Seq("tbl", "key")).where(col("a") < col("b"))
      .select(col("a"), col("b"))
    // rep = min vec_id of the bucket, so rep < vec_id and (a, b) ordering
    // holds by construction
    val hotPairs = b.join(broadcast(hot), Seq("tbl", "key"))
      .where(col("vec_id") =!= col("rep"))
      .select(col("rep").as("a"), col("vec_id").as("b"))
    coldPairs.union(hotPairs).distinct()
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold)
    * via the same bucketing — the "semantic dedup" stage of a training
    * pipeline. Candidates from [[cosineCandidatePairs]], verified by the
    * native codegen'd cosine.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = 0.95,
                         nBits: Int = 10, tables: Int = 4,
                         maxBucket: Int = 200): DataFrame = {
    val ids = cosineCandidatePairs(emb, nBits, tables, maxBucket)
    val e = emb.select(col("vec_id"), col("embedding"))
    ids
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .select(col("a"), col("b"), CosineSim.of(col("ea"), col("eb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Recall@k of the ANN result against an exact top-k result (both keyed
    * (pid, vec_id)) — the J9 acceptance metric (§5.3).
    */
  def recallAtK(ann: DataFrame, exact: DataFrame): Double = {
    val hit = exact.join(ann, Seq("pid", "vec_id"), "left_semi").count()
    val total = exact.count()
    if (total == 0) 1.0 else hit.toDouble / total
  }

  // -------------------------------------------------------------- IVF

  /** IVF (inverted-file) ANN: a seeded KMeans coarse quantizer assigns
    * every corpus vector to one of `nlist` cells; a probe searches only
    * its `nProbe` nearest cells, then exact-cosine re-ranks.
    *
    * Scale shape: centroids are tiny (nlist×dim doubles) and broadcast;
    * corpus assignment is one narrow scan; the candidate join is an
    * equi-join on the cell id, so a 100 TB corpus can be written
    * partitioned by cell and each probe batch touches nProbe partitions —
    * the classic IVF-flat layout.
    */
  /** Deterministic bounded training set: bottom-`cap` rows by content
    * hash, pushed INTO the query as `orderBy(xxhash64(embedding),
    * embedding).limit(cap)` — plans as TakeOrderedAndProject
    * (per-partition bounded heaps, one bounded gather), so at most `cap`
    * rows ever reach a fit or a driver collect, at any corpus size and
    * for any caller. `trainFraction` (kept for API compat) pre-thins the
    * scan but can only shrink, never relax, the bound; the floor guard
    * keeps an aggressive fraction on a tiny corpus from starving KMeans
    * below `minRows` centroids. The (hash, content) sort key is a total
    * order, so the selected set is a pure function of corpus content.
    */
  private[graft] def boundedTrainSet(df: DataFrame, embCol: String, cap: Int,
                                     trainFraction: Double, minRows: Int,
                                     seed: Long): DataFrame = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"boundedTrainSet: trainFraction must be in (0, 1], got $trainFraction")
    val thinned = if (trainFraction >= 1.0) df
                  else {
                    val sampled = df.sample(withReplacement = false, trainFraction, seed)
                    if (sampled.count() < minRows) df else sampled
                  }
    thinned.orderBy(xxhash64(col(embCol)).asc, col(embCol).asc).limit(cap)
  }

  /** Training-set bound shared by the coarse quantizer and [[pqTrain]]:
    * ~40 training points per centroid (published FAISS guidance), floored
    * so small codebooks still see a representative slice.
    */
  private[graft] def trainCap(centroids: Int): Int =
    math.max(centroids * 40, 10240)

  /** Coarse quantizer shared by [[ivfTopK]] and [[ivfPqTopK]]: seeded
    * KMeans over a deterministic bounded training set, full corpus
    * assigned to cells. Returns (assigned corpus `(vec_id, embedding,
    * cell)`, centroids `(cell, center)` — nlist rows, broadcastable by
    * construction).
    *
    * The quantizer only needs a representative sample — at large corpus
    * sizes training on everything is the bottleneck (and at 100 TB a
    * non-starter); the full corpus is still ASSIGNED to cells, so search
    * quality degrades only as far as centroid placement does. The
    * [[boundedTrainSet]] cap applies regardless of `trainFraction`, so
    * the KMeans fit scans at most [[trainCap]]`(nlist)` rows by
    * construction — there is no caller convention that trains on the
    * whole corpus.
    */
  private[graft] def coarseAssign(spark: SparkSession, corpus: DataFrame, nlist: Int,
                                  seed: Long, trainFraction: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val feats = corpus.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val train = boundedTrainSet(feats, "embedding", trainCap(nlist),
      trainFraction, minRows = nlist, seed = seed)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell").fit(train)
    val assigned = model.transform(feats)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cell", "center")
    (assigned, centroids)
  }

  /** Each probe → its `nProbe` nearest cells (L2 to the broadcast
    * centroid), as `(pid, p_emb, cell)`.
    */
  private def nearestCells(probes: DataFrame, centroids: DataFrame,
                           nProbe: Int): DataFrame = {
    val pc = probes.select(col("vec_id").as("pid"), col("embedding").as("p_emb"))
      .crossJoin(broadcast(centroids))
    val dist = pc.select(col("pid"), col("p_emb"), col("cell"),
      aggregate(zip_with(col("p_emb"), col("center"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, x) => a + x).as("d2"))
    val w = Window.partitionBy("pid").orderBy(col("d2"), col("cell"))
    dist.withColumn("pr", row_number().over(w))
      .where(col("pr") <= nProbe).select("pid", "p_emb", "cell")
  }

  def ivfTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
              k: Int = 5, nlist: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, trainFraction: Double = 1.0): DataFrame = {
    val (assigned, centroids) = coarseAssign(spark, corpus, nlist, seed, trainFraction)
    val probeCells = nearestCells(probes, centroids, nProbe)

    // candidates from the probed cells only, exact cosine re-rank
    // (native graft_cosine — the re-rank touches nProbe/nlist of the
    // corpus per probe, far too many pairs for interpreted HOF lambdas)
    val cands = probeCells.join(assigned, "cell")
      .where(col("vec_id") =!= col("pid"))
    val sims = cands.select(col("pid"), col("vec_id"),
      CosineSim.of(col("p_emb"), col("embedding")).as("sim"))
    val wr = Window.partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(wr)).where(col("rn") <= k)
      .select("pid", "vec_id", "rn", "sim")
  }

  // ----------------------------------------------------------- IVF-PQ

  /** Train product-quantization codebooks: per subspace `s` of `m`, a
    * seeded KMeans with `ksub` centroids over the subvectors of a bounded
    * seeded sample. Returns the flat subspace-major codebook
    * (`m × ksub × dsub` floats) — driver-side data the size of a few
    * hundred KB at production settings (8 × 256 × 8 floats = 64 KB),
    * independent of corpus size.
    */
  def pqTrain(spark: SparkSession, corpus: DataFrame, dim: Int, m: Int,
              ksub: Int, seed: Long = 42L,
              trainFraction: Double = 1.0): Array[Float] = {
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m $m")
    val dsub = dim / m
    // Bounded DRIVER-side training (r9; replaces m distributed KMeans
    // fits whose ~80 scheduler rounds dominated the smoke at 26 s): PQ
    // codebooks need ~40·ksub training subvectors (the published FAISS
    // guidance). The cap is pushed INTO the query (r10): boundedTrainSet
    // plans as TakeOrderedAndProject, so the collect below receives at
    // most trainCap(ksub) rows by construction — no caller, and no
    // trainFraction default, can materialize the corpus on the driver.
    // Determinism: the (hash, content) sort key is a total order and the
    // driver re-sorts by content, so every later step is a pure function
    // of corpus content.
    val cap = trainCap(ksub)
    val train0 = boundedTrainSet(corpus.select(col("embedding")), "embedding",
      cap, trainFraction, minRows = ksub, seed = seed)
    val collected = train0.collect().map(_.getSeq[Float](0).toArray)
    require(collected.nonEmpty, "pqTrain: empty training set")
    val ordering = new Ordering[Array[Float]] {
      def compare(a: Array[Float], b: Array[Float]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }
    val pts = collected.sorted(ordering)
    val cb = new Array[Float](m * ksub * dsub)
    // per-subspace Lloyd's, subspaces independent → parallel threads are
    // still deterministic. A thread that dies (bad data, OOM) must fail
    // pqTrain loudly — a silently all-zero codebook stripe would "train"
    // successfully and corrupt every downstream encode.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until m).map { s =>
      val t = new Thread(() => {
        val sub = pts.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
        val centers = Array.tabulate(ksub)(i => sub((i.toLong * sub.length / ksub).toInt).clone())
        val assign = new Array[Int](sub.length)
        var iter = 0
        while (iter < 10) {
          var p = 0
          while (p < sub.length) {
            var bestD = Double.MaxValue; var bestK = 0; var kk = 0
            while (kk < ksub) {
              var d = 0.0; var j = 0
              val c = centers(kk); val v = sub(p)
              while (j < dsub) { val t2 = v(j) - c(j); d += t2 * t2; j += 1 }
              if (d < bestD) { bestD = d; bestK = kk }
              kk += 1
            }
            assign(p) = bestK
            p += 1
          }
          val sums = Array.ofDim[Double](ksub, dsub)
          val counts = new Array[Int](ksub)
          p = 0
          while (p < sub.length) {
            val k2 = assign(p); val v = sub(p)
            var j = 0
            while (j < dsub) { sums(k2)(j) += v(j); j += 1 }
            counts(k2) += 1
            p += 1
          }
          var kk2 = 0
          while (kk2 < ksub) {
            if (counts(kk2) > 0) { // empty cluster keeps its center
              var j = 0
              while (j < dsub) {
                centers(kk2)(j) = (sums(kk2)(j) / counts(kk2)).toFloat
                j += 1
              }
            }
            kk2 += 1
          }
          iter += 1
        }
        var kk3 = 0
        while (kk3 < ksub) {
          System.arraycopy(centers(kk3), 0, cb, (s * ksub + kk3) * dsub, dsub)
          kk3 += 1
        }
      })
      t.setUncaughtExceptionHandler((_, e) => failures.add(e))
      t.start(); t
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) {
      val first = failures.peek()
      throw new RuntimeException(
        s"pqTrain: ${failures.size} subspace fit(s) failed: ${first.getMessage}", first)
    }
    cb
  }

  /** IVF-PQ ANN top-k: the [[ivfTopK]] coarse quantizer plus a
    * product-quantized corpus representation — the memory story at
    * 100 TB, where raw float arrays don't fit: after encoding, the
    * searchable corpus is `(vec_id, cell, m` small ints`)` (32× smaller
    * than 64 raw floats at the default 8×256 setting), raw vectors never
    * shuffle, and only the `rerank` approx-best candidates per probe are
    * re-joined BY ID to raw embeddings for the exact final ranking.
    *
    * Stages: (1) coarse assign + per-probe nProbe cells, as IVF; (2)
    * candidates ranked by `graft_cosine(p_emb, graft_pq_decode(codes))`
    * — codes-only, the [[graft.functions.PqDecode]] reconstruction;
    * (3) top-`rerank` per probe re-ranked exactly. Codebooks from
    * [[pqTrain]] (bounded seeded sample, deterministic), captured in the
    * codec expressions ProbeShingleHits-style.
    */
  def ivfPqTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
                k: Int = 10, nlist: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 256, seed: Long = 42L,
                trainFraction: Double = 1.0, rerank: Int = 0): DataFrame = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"ivfPqTopK: dim $dim not divisible by m $m")
    val dsub = dim / m
    val nRerank = if (rerank > 0) rerank else math.max(50, 5 * k)

    val (assigned, centroids) = coarseAssign(spark, corpus, nlist, seed, trainFraction)
    val probeCells = nearestCells(probes, centroids, nProbe)
    val cb = pqTrain(spark, corpus, dim, m, ksub, seed, trainFraction)

    // the searchable representation: codes, not vectors
    val coded = assigned.select(col("vec_id"), col("cell"),
      PqEncode.of(col("embedding"), m, ksub, dsub, cb).as("codes"))

    // approximate ranking from codes alone (asymmetric: exact probe vs
    // reconstructed candidate)
    val cands = probeCells.join(coded, "cell")
      .where(col("vec_id") =!= col("pid"))
    val approx = cands.select(col("pid"), col("p_emb"), col("vec_id"),
      CosineSim.of(col("p_emb"), PqDecode.of(col("codes"), m, ksub, dsub, cb)).as("asim"))
    val wa = Window.partitionBy("pid").orderBy(col("asim").desc, col("vec_id"))
    val shortlist = approx.withColumn("ar", row_number().over(wa))
      .where(col("ar") <= nRerank)
      .select("pid", "p_emb", "vec_id")

    // exact re-rank of the bounded shortlist: the only place raw corpus
    // vectors are touched, re-attached by id (candidate side is small —
    // AQE broadcasts it)
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("pid"), col("vec_id"),
        CosineSim.of(col("p_emb"), col("embedding")).as("sim"))
    val wr = Window.partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    exact.withColumn("rn", row_number().over(wr)).where(col("rn") <= k)
      .select("pid", "vec_id", "rn", "sim")
  }
}
