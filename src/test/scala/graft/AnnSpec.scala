package graft

import graft.ops.{AnnOps, TextOps}
import org.apache.spark.sql.functions._

/** SURVEY §5.3 — ANN acceptance: recall@k against the brute-force exact
  * top-k (TextOps.j8 machinery), plus cosine near-dup on a planted
  * duplicate vector.
  */
class AnnSpec extends SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("ann recall@5 >= 0.6 vs brute force") {
    val probes = emb.where(col("vec_id") < 10)
    val exact = TextOps.j8_sim_topk(spark, sf).select("pid", "vec_id")
    // Fixture embeddings are near-uniform (neighbor angles ≈ 90°), the
    // hardest case for hyperplane LSH — wide coverage (4 bits, 16 tables)
    // is needed here; clustered real-world corpora allow far tighter
    // buckets (standard recall/candidate-count tuning).
    val ann = AnnOps.annTopK(emb, probes, k = 5, nBits = 4, tables = 16)
    val recall = AnnOps.recallAtK(ann.select("pid", "vec_id"), exact)
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("ann candidates are a strict subset of the corpus (no self matches)") {
    val probes = emb.where(col("vec_id") < 5)
    val ann = AnnOps.annTopK(emb, probes, k = 5, nBits = 8, tables = 4)
    assert(ann.where(col("pid") === col("vec_id")).count() == 0)
    assert(ann.groupBy("pid").count().where(col("count") > 5).count() == 0)
  }

  test("cosine near-dup finds a planted duplicate vector") {
    val dup = emb.where(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val withDup = emb.select("vec_id", "embedding").union(dup)
    val pairs = AnnOps.cosineNearDupPairs(withDup, threshold = 0.999, nBits = 8, tables = 8)
    assert(pairs.where(col("a") === 0 && col("b") === 100000).count() == 1,
      "planted identical vector not recovered as near-dup")
  }

  test("IVF ANN: recall@5 vs brute force, bounded candidate work") {
    val probes = emb.where(col("vec_id") < 10)
    val exact = TextOps.j8_sim_topk(spark, sf).select("pid", "vec_id")
    // uniform fixture again needs wide probing; nProbe=8 of nlist=16
    val ivf = AnnOps.ivfTopK(spark, emb, probes, k = 5, nlist = 16, nProbe = 8)
    val recall = AnnOps.recallAtK(ivf.select("pid", "vec_id"), exact)
    assert(recall >= 0.6, s"IVF recall@5 = $recall")
    assert(ivf.groupBy("pid").count().where(col("count") > 5).count() == 0)
  }

  test("LSH candidate shuffles move ids only, never embedding vectors") {
    // The r2 audit found the candidate distinct dragging two 64-float
    // arrays per pair through its Exchange; the fix dedups on the id pair
    // and re-joins embeddings by id. Pin it: no shuffle anywhere in
    // either ANN plan may carry an array column. (AQE hides exchanges
    // inside leaf query stages, so assert on the static plan.)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probes = emb.where(col("vec_id") < 5)
      for (df <- Seq(
          AnnOps.annTopK(emb, probes, k = 5, nBits = 8, tables = 4),
          AnnOps.cosineNearDupPairs(emb.select("vec_id", "embedding")))) {
        val shuffled = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.output
        }
        assert(shuffled.nonEmpty)
        shuffled.foreach { attrs =>
          assert(!attrs.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
            s"shuffle carries a vector column: ${attrs.map(a => a.name + ":" + a.dataType.simpleString)}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("multi-probe expands the candidate set, never shrinks recall") {
    val probes = emb.where(col("vec_id") < 10)
    val exact = TextOps.j8_sim_topk(spark, sf).select("pid", "vec_id")
    val cb = AnnOps.bucketed(emb, 6, 2).select("tbl", "key", "vec_id")
    def cands(multiProbe: Int) =
      AnnOps.probeBuckets(probes, 6, 2, multiProbe)
        .join(cb, Seq("tbl", "key")).where(col("vec_id") =!= col("pid"))
        .select("pid", "vec_id").distinct()
    val plainC = cands(0); val multiC = cands(6)
    // strict superset: every single-probe candidate survives, new ones appear
    assert(plainC.exceptAll(multiC).isEmpty, "multi-probe lost a candidate")
    assert(multiC.count() > plainC.count(), "multi-probe added no candidates")
    // recall is monotone in the candidate set (exact re-rank of a superset);
    // the uniform fixture's neighbors sit at ~90 deg — many sign bits away —
    // so Hamming-1 probing may not RAISE recall here (AnnSpec's standing
    // caveat); clustered corpora are where the knob pays
    val rPlain = AnnOps.recallAtK(
      AnnOps.annTopK(emb, probes, k = 5, nBits = 6, tables = 2)
        .select("pid", "vec_id"), exact)
    val rMulti = AnnOps.recallAtK(
      AnnOps.annTopK(emb, probes, k = 5, nBits = 6, tables = 2, multiProbe = 6)
        .select("pid", "vec_id"), exact)
    assert(rMulti >= rPlain, s"multi-probe recall $rMulti < single-probe $rPlain")
    // fan-out is probe-side only and bounded: still at most k rows per probe
    val multi = AnnOps.annTopK(emb, probes, k = 5, nBits = 6, tables = 2, multiProbe = 6)
    assert(multi.groupBy("pid").count().where(col("count") > 5).count() == 0)
  }

  test("IVF recall-vs-cost curve: recall@5 monotone in nProbe, exact at nProbe = nlist") {
    // VERDICT r10 task 6 — the sizing table a 100 TB user reads to pick
    // nProbe: candidate work scales ~nProbe/nlist of the corpus per
    // probe, recall climbs with it. The per-call centroids are seeded and
    // deterministic, so the probed-cell sets are NESTED across nProbe —
    // recall is provably monotone — and probing every cell re-ranks the
    // whole corpus exactly (recall 1.0), anchoring the curve's top.
    val probes = emb.where(col("vec_id") < 10)
    val exact = TextOps.j8_sim_topk(spark, sf).select("pid", "vec_id")
    val nlist = 16
    val curve = Seq(1, 2, 4, 8, 16).map { np =>
      val ivf = AnnOps.ivfTopK(spark, emb, probes, k = 5, nlist = nlist, nProbe = np)
      val r = AnnOps.recallAtK(ivf.select("pid", "vec_id"), exact)
      System.err.println(f"[ivf curve] nProbe=$np%2d  ~corpus-fraction=${np.toDouble / nlist}%.3f  recall@5=$r%.3f")
      np -> r
    }
    curve.sliding(2).foreach {
      case Seq((n1, r1), (n2, r2)) =>
        assert(r2 >= r1 - 1e-9, s"recall fell from $r1 (nProbe=$n1) to $r2 (nProbe=$n2)")
      case _ => ()
    }
    assert(curve.last._2 >= 0.999,
      s"nProbe = nlist must equal brute force, got recall ${curve.last._2}")
  }

  test("margin-ranked multi-probe beats positional first-m at equal fan-out") {
    // r3 item #5 done-criterion. Setup where the margin knob has a
    // structural (not luck-of-the-fixture) effect: probes are small
    // deterministic perturbations of corpus vectors, so the true neighbor
    // sits at a small angle and a sign bit disagrees between probe and
    // source exactly on planes where the probe's |dot| is small. Flipping
    // the lowest-margin planes (HyperplaneProbes) should therefore recover
    // the source bucket; flipping planes 0..m-1 only wins when the
    // disagreeing plane happens to sit in the first m positions (p = m/nBits).
    // (The near-uniform fixture's OWN neighbors sit at ~90° — many bits
    // apart — where no Hamming-1 scheme has an edge; hence the planting.)
    val corpus = emb.select("vec_id", "embedding")
    val probes = emb.where(col("vec_id") < 100).select(
      (col("vec_id") + 1000000).as("vec_id"),
      // fixture embeddings are unit-norm (per-coord rms ≈ 1/8), so ±0.03
      // per-coord noise ≈ 10° angle ≈ 0.8 expected sign flips over 14
      // planes — mostly 0- or 1-flip cases, exactly multi-probe's regime
      transform(col("embedding"), (x, i) =>
        (x + (pmod(xxhash64(col("vec_id"), i), lit(5)).cast("double") - lit(2.0))
          * lit(0.015)).cast("float")).as("embedding"))
    // ground truth: probe 100000x should find source vector x
    val truth = probes.select(col("vec_id").as("pid"),
      (col("vec_id") - 1000000).as("vec_id"))
    val nBits = 14; val tables = 1; val m = 4
    val cb = AnnOps.bucketed(corpus, nBits, tables).select("tbl", "key", "vec_id")
    def hits(pb: org.apache.spark.sql.DataFrame): Long =
      pb.join(cb, Seq("tbl", "key"))
        .select("pid", "vec_id").distinct()
        .join(truth, Seq("pid", "vec_id"), "left_semi").count()
    val margin = AnnOps.probeBuckets(probes, nBits, tables, m)
    val firstM = AnnOps.probeBucketsFirstM(probes, nBits, tables, m)
    assert(margin.count() == firstM.count(), "fan-out differs — gate is unfair")
    val hMargin = hits(margin); val hFirst = hits(firstM)
    info(s"planted-neighbor recovery: margin-ranked $hMargin/100, first-m $hFirst/100")
    assert(hMargin > hFirst,
      s"margin-ranked probing ($hMargin) did not beat first-m ($hFirst) at equal fan-out")
  }

  test("probes expression degrades gracefully on non-finite embeddings") {
    // ADVICE r4: all-NaN margins used to leave best = -1 → AIOOBE. Now the
    // selection falls back to first-unused-plane order.
    import spark.implicits._
    val nan = Seq((1L, Array.fill(8)(Float.NaN)), (2L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val keys = nan.select(col("vec_id"),
      graft.functions.HyperplaneProbes.of(col("embedding"), 6, 2, 3).as("ks"))
      .select(col("vec_id"), size(col("ks")).as("n")).collect()
    assert(keys.forall(_.getInt(1) == 2 * 4), s"expected 8 keys per row: ${keys.mkString}")
  }

  test("native hyperplane keys are bit-identical to the HOF reference spelling") {
    import org.apache.spark.sql.functions.{lit, posexplode, sequence, transform, struct, explode}
    val nBits = 12; val tables = 4
    val sample = emb.limit(100)
    val native = sample.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneKeys.of(col("embedding"), nBits, tables)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("key"))
    val hof = sample.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(tables - 1)),
        t => struct(t.as("tbl"),
          ops.AnnOps.hyperplaneKeyHof(col("embedding"), nBits, 64, t).as("key")))).as("bkt"))
      .select(col("vec_id"), col("bkt.tbl").as("tbl"), col("bkt.key").as("key"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("quantizer training set is bounded by construction: TakeOrderedAndProject in the plan") {
    // The r9 wart was a driver collect bounded only by caller convention
    // (trainFraction default 1.0 collected the corpus). The bound now
    // lives in the query: bottom-cap by content hash plans as
    // TakeOrderedAndProject (per-partition heaps), so ≤ cap rows ever
    // reach the driver — for ANY caller, at ANY corpus size.
    val cap = AnnOps.trainCap(32)
    val ts = AnnOps.boundedTrainSet(emb.select(col("embedding")), "embedding",
      cap, trainFraction = 1.0, minRows = 32, seed = 42L)
    val plan = ts.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CollectLimit"), plan)
    assert(ts.count() <= cap)
    // tiny cap actually truncates, deterministically
    val tiny = AnnOps.boundedTrainSet(emb.select(col("embedding")), "embedding",
      7, trainFraction = 1.0, minRows = 1, seed = 42L)
    val a = tiny.collect().map(_.getSeq[Float](0).mkString(","))
    val b = AnnOps.boundedTrainSet(emb.select(col("embedding")), "embedding",
      7, trainFraction = 1.0, minRows = 1, seed = 42L)
      .collect().map(_.getSeq[Float](0).mkString(","))
    assert(a.length == 7 && a.sameElements(b))
  }

  test("pqTrain fails loudly when a subspace fit dies") {
    // dim not divisible is caught by require; a thread-level failure is
    // exercised via NaN-free but length-ragged vectors that break the
    // subvector copy inside the Lloyd thread.
    import spark.implicits._
    val ragged = Seq((1L, Array.fill(8)(0.1f)), (2L, Array.fill(3)(0.2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[RuntimeException] {
      AnnOps.pqTrain(spark, ragged, dim = 8, m = 4, ksub = 2)
    }
    assert(e.getMessage.contains("subspace fit"), e.getMessage)
  }

  test("IVF with sampled quantizer training keeps recall") {
    val probes = emb.where(col("vec_id") < 10)
    val exact = TextOps.j8_sim_topk(spark, sf).select("pid", "vec_id")
    val ivf = AnnOps.ivfTopK(spark, emb, probes, k = 5, nlist = 16, nProbe = 8,
      trainFraction = 0.3)
    val recall = AnnOps.recallAtK(ivf.select("pid", "vec_id"), exact)
    assert(recall >= 0.6, s"sampled-training IVF recall@5 = $recall")
    // deterministic: the seeded sample gives the same centroids every run
    val again = AnnOps.ivfTopK(spark, emb, probes, k = 5, nlist = 16, nProbe = 8,
      trainFraction = 0.3)
    assert(ivf.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
  }

  test("IVF-PQ: codes-only ranking + bounded exact re-rank keeps recall@10") {
    val probes = emb.where(col("vec_id") < 10)
    // exact top-10 reference (j8's machinery is pinned to k=5)
    val corpus = emb.select("vec_id", "embedding")
    val sims = broadcast(probes.select(col("vec_id").as("pid"),
        col("embedding").as("p_emb"))).crossJoin(corpus)
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        graft.functions.CosineSim.of(col("p_emb"), col("embedding")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))
    val exact = sims.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 10).select("pid", "vec_id")

    // fixture is 500 uniform 64-d vectors: ksub=32 per 8-d subspace is a
    // production-shaped ratio (256 codewords would be half the corpus)
    val pq = AnnOps.ivfPqTopK(spark, emb, probes, k = 10, nlist = 16,
      nProbe = 8, m = 8, ksub = 32, trainFraction = 0.5)
    val recall = AnnOps.recallAtK(pq.select("pid", "vec_id"), exact)
    assert(recall >= 0.6, s"IVF-PQ recall@10 = $recall")
    assert(pq.groupBy("pid").count().where(col("count") > 10).count() == 0)
    // deterministic end to end: seeded coarse quantizer, seeded per-
    // subspace codebooks, tie-broken rankings
    val again = AnnOps.ivfPqTopK(spark, emb, probes, k = 10, nlist = 16,
      nProbe = 8, m = 8, ksub = 32, trainFraction = 0.5)
    assert(pq.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
  }

  test("PQ codec: decode(encode(v)) reconstructs within quantization error, codes bounded") {
    val dim = 64; val m = 8; val ksub = 32; val dsub = dim / m
    val cb = AnnOps.pqTrain(spark, emb, dim, m, ksub)
    assert(cb.length == m * ksub * dsub)
    val roundtrip = emb.select(col("embedding"),
      graft.functions.PqEncode.of(col("embedding"), m, ksub, dsub, cb).as("codes"))
      .select(col("embedding"), col("codes"),
        graft.functions.PqDecode.of(col("codes"), m, ksub, dsub, cb).as("rec"))
    // every code within [0, ksub)
    assert(roundtrip.select(explode(col("codes")).as("c"))
      .where(col("c") < 0 || col("c") >= ksub).count() == 0)
    // reconstruction correlates with the original (cosine well above
    // random ~0 for uniform vectors) — the property ADC ranking relies on
    val meanCos = roundtrip.select(avg(
      graft.functions.CosineSim.of(col("embedding"), col("rec"))).as("c"))
      .head().getDouble(0)
    assert(meanCos > 0.5, s"PQ reconstruction too lossy: mean cosine $meanCos")
  }

  test("hyperplane bucketing is deterministic") {
    val b1 = AnnOps.bucketed(emb.limit(50)).select("vec_id", "tbl", "key").collect()
    val b2 = AnnOps.bucketed(emb.limit(50)).select("vec_id", "tbl", "key").collect()
    assert(b1.map(_.toString).sorted.sameElements(b2.map(_.toString).sorted))
  }

  test("RRF with the IVF semantic leg equals j42 at exhaustive probing") {
    // the production swap for the fusion's semantic leg: at
    // nProbe = nlist every cell is probed, the candidate set is the full
    // corpus, and the graft_cosine re-rank bit-matches the brute leg
    // (k5 pin) with the same (sim DESC, id) tie order — so the fused
    // table must equal the declared j42 row-for-row. At production
    // nProbe the same code path trades recall on the curve above.
    val probeIds = Tables.documents(spark, sf)
      .where(graft.ops.RankOps.probeWorkload(col("doc_id")))
      .select(col("doc_id").as("qid"))
    val ann = graft.ops.RankOps.rrfFuseAnn(spark, sf, probeIds,
      nlist = 8, nProbe = 8).collect().map(_.toString).sorted
    val batch = SparkEntry.queries("j42_rrf_fusion")(spark, sf)
      .collect().map(_.toString).sorted
    assert(ann.nonEmpty && ann.sameElements(batch),
      s"ANN-leg fusion diverges from j42 at full probing " +
        s"(${ann.length} vs ${batch.length} rows)")
  }
}
