package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** ns per row of each native kernel, over a fixed cached input that does
  * not depend on `--seed`, minus an identity projection of the same
  * input. Medians of alternating reps. */
object Kernels {
  private val Copies = 3
  private val VectorCopies = 10
  private val Reps = 3

  def measure(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = {
    import spark.implicits._
    val (docs, _) = Inputs.corpus(0L)
    val emb = Inputs.embeddings(0L)
    val text = (0 until Copies).flatMap(_ => docs.map(_.text)).toDF("text")
      .repartition(Main.Threads).persist(StorageLevel.MEMORY_ONLY)
    val vec = (0 until VectorCopies).flatMap(_ => emb.zip(emb.tail)
      .map { case (a, b) => (a.embedding, b.embedding) }).toDF("a", "b")
      .repartition(Main.Threads).persist(StorageLevel.MEMORY_ONLY)
    val nText = text.count().toDouble
    val nVec = vec.count().toDouble

    def nsPerRow(in: DataFrame, n: Double, kernel: Column,
        identity: Column): Double = {
      def time(c: Column): Double = {
        val t0 = System.nanoTime()
        in.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      time(kernel); time(identity) // first use: codegen and JIT
      val pairs = (1 to Reps).map(_ => (time(kernel), time(identity)))
      val k = pairs.map(_._1).sorted.apply(Reps / 2)
      val i = pairs.map(_._2).sorted.apply(Reps / 2)
      (k - i) / n
    }

    val t = col("text")
    val kernels = Seq(
      "cosine_sim" -> (() => nsPerRow(vec, nVec,
        CosineSimilarity(spark, col("a"), col("b")), size(col("a")))),
      "minhash_sig" -> (() => nsPerRow(text, nText,
        MinHashSig(spark, t, 3, 32), length(t))),
      "gram_hashes" -> (() => nsPerRow(text, nText,
        GramHashes(spark, t, 3), length(t))),
      "rolling_hash" -> (() => nsPerRow(text, nText,
        RollingHash(spark, t), length(t))),
      "simhash_portable" -> (() => nsPerRow(text, nText,
        SimHashPortable(spark, t, 60), length(t))),
      "bpe_token_count" -> (() => nsPerRow(text, nText,
        BpeTokenCount(spark, t), length(t))))
    val out = kernels.map { case (name, f) =>
      (s"kernel.$name.ns_per_row", trace.span(name, "kernel")(f()), "ns")
    }
    text.unpersist(); vec.unpersist()
    out
  }
}
