package graft

import java.util.concurrent.{Callable, Executors}

import graft.ops.{AnnOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Queries built and collected at the same time on one session answer
  * exactly what they answer alone. Each case shares a native kernel
  * between its queries: j8 and j10 both run graft_dot, two j14 runs each
  * carry their own probe table, and two IVF-PQ runs each carry their own
  * trained codebook. A query that installed its kernel in the session's
  * function registry could fail to resolve it, or bind another query's
  * probes or codebook, while a concurrent query re-installed it.
  */
class ConcurrencySpec extends SparkSuite {

  private def session: SparkSession = SparkSuite.graft
  private val sf01: String = new java.io.File(sf).getParent + "/sf0.01"
  private val rounds = 3

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs every query's serial reference first, then builds and collects
    * each query on its own thread (one per query), `rounds` times over,
    * and compares every concurrent answer with its serial one. */
  private def agreesWithSerial(queries: (String, () => DataFrame)*): Unit = {
    val serial = queries.map { case (_, q) => rows(q()) }
    val pool = Executors.newFixedThreadPool(queries.size)
    val concurrent =
      try queries.map { case (_, q) =>
        pool.submit(new Callable[Seq[Seq[String]]] {
          def call(): Seq[Seq[String]] = (1 to rounds).map(_ => rows(q()))
        })
      }.map(_.get())
      finally pool.shutdownNow()
    for (((name, _), want, got) <- queries.lazyZip(serial).lazyZip(concurrent);
         (answer, round) <- got.zipWithIndex)
      assert(answer == want, s"$name (concurrent round ${round + 1}) differs from its serial run")
  }

  test("j8 and j10 built concurrently on one session match their serial runs") {
    agreesWithSerial(
      "j8" -> (() => TextOps.j8_sim_topk(session, sf)),
      "j10" -> (() => TextOps.j10_vec_norms(session, sf)))
  }

  test("j14 over two fixtures built concurrently keeps each probe table") {
    agreesWithSerial(
      "j14 sf0.001" -> (() => TextOps.j14_dedup_ngram(session, sf)),
      "j14 sf0.01" -> (() => TextOps.j14_dedup_ngram(session, sf01)))
  }

  test("ivfPqTopK over two corpora built concurrently keeps each codebook") {
    def ivfPq(dir: String): () => DataFrame = () => {
      val emb = Tables.embeddings(session, dir)
      AnnOps.ivfPqTopK(session, emb, emb.where(col("vec_id") < 10), k = 10,
        nlist = 16, nProbe = 8, m = 8, ksub = 32, trainFraction = 0.5)
    }
    agreesWithSerial("ivfPq sf0.001" -> ivfPq(sf), "ivfPq sf0.01" -> ivfPq(sf01))
  }
}
