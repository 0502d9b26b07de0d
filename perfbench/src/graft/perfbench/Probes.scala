package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft
import graft.operators.{Ivf, Knn, Lsh}

/** Kernel and operator probes over a workload's own corpus, run only in the
  * traced run and outside every end-to-end number. Kernels are timed as one
  * aggregate over a cached frame and reported as rows per second per core;
  * the plain Scala loop scores the same arrays on one thread as the
  * reference. Each probe is the median of [[Reps]] repetitions. */
object Probes {
  val Reps = 3
  /** Queries crossed with the corpus for the pairwise kernels. */
  val KernelQ = 32
  /** The operator probe's frame, as large as bulk-search's. */
  val OperatorQ = 256

  def run(h: Harness, corpus: Array[Array[Float]]): Seq[(String, Double, String)] = {
    val spark = h.spark
    import spark.implicits._
    val n = corpus.length
    val emb = corpus.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("vec_id", "embedding").repartition(h.cores).cache()
    val r = Gen.rng(h.seed, 6)
    val mix = Gen.mixture
    val kq = mix.draw(r, KernelQ)
    val qs = h.frame(kq).cache()
    val oq = h.frame(mix.draw(r, OperatorQ)).cache()
    val init = corpus.take(Workloads.Centroids).zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toDouble)) }
    val mat = typedLit(init.map(_._2.toSeq).toSeq)
    val pairs = emb.crossJoin(broadcast(qs))
    val scored = pairs.select(col("qid"), col("vec_id"),
      Graft.cosine(col("embedding"), col("qvec")).as("score")).cache()
    h.tracer.untraced { emb.count(); qs.count(); oq.count(); scored.count() }

    def time(name: String)(action: => Any): Double =
      Stats.median((1 to Reps).map { _ =>
        h.tracer(name, "probe") {
          val t0 = System.nanoTime()
          action
          (System.nanoTime() - t0) / 1e6
        }
      })
    def perCore(rows: Long, ms: Double): Double = rows / (ms / 1000.0) / h.cores
    def agg(df: DataFrame, c: org.apache.spark.sql.Column): Any = df.agg(c).collect()

    val pairRows = n.toLong * KernelQ
    val kernels = Seq(
      "cosine" -> (pairRows, () => agg(pairs, sum(Graft.cosine(col("embedding"), col("qvec"))))),
      "l2" -> (pairRows, () => agg(pairs, sum(Graft.l2(col("embedding"), col("qvec"))))),
      "topk" -> (pairRows, () => scored.groupBy(col("qid"))
        .agg(Graft.topk(col("score"), col("vec_id"), lit(Workloads.K), lit(false))).collect()),
      "nearest_centroid" -> (n.toLong, () => agg(emb, sum(Graft.nearestCentroid(col("embedding"), mat)("sim")))),
      "simhash_keys" -> (n.toLong, () => agg(emb, max(Graft.simhashKeys(col("embedding"), 4, 10, 1000L)(0)))),
      "vecsum" -> (n.toLong, () => emb.groupBy(col("vec_id") % Workloads.Centroids)
        .agg(Graft.vecsum(col("embedding"))).collect()))
    val kernelRates = kernels.map { case (name, (rows, action)) =>
      name -> perCore(rows, time(s"kernel.$name")(action()))
    }
    val loopMs = time("kernel.scala_loop_cosine") {
      var acc = 0.0
      kq.foreach(q => corpus.foreach(v => acc += Exact.cosine(v, q)))
      acc
    }
    val loopRate = pairRows / (loopMs / 1000.0)
    val cosineRate = kernelRates.find(_._1 == "cosine").get._2

    val flatTopk = time("operator.flat_topk") {
      Knn.topkPerQuery(Knn.scoreAll(emb, oq, "cosine"), "cosine", Workloads.K).collect()
    }
    val kmeansIter = time("operator.kmeans_iter")(Ivf.trainCentroids(spark, emb, 1, Some(init)))
    val lshKeys = time("operator.lsh_keys") {
      Lsh.keyRows(emb, 4, 10, 1000L).agg(max(col("key"))).collect()
    }
    Seq(emb, qs, oq, scored).foreach(_.unpersist())

    kernelRates.map { case (k, v) => (s"functions.${k}_rows_per_core_s", v, "1/s") } ++ Seq(
      ("functions.scala_loop_cosine_rows_per_core_s", loopRate, "1/s"),
      ("functions.cosine_vs_scala_loop", cosineRate / loopRate, "ratio"),
      ("operators.flat_topk_ms", flatTopk, "ms"),
      ("operators.kmeans_iter_ms", kmeansIter, "ms"),
      ("operators.lsh_keys_ms", lshKeys, "ms"))
  }
}
