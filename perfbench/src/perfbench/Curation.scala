package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM-data curation over the seeded corpus. A pass runs each declared
  * query through `SparkEntry.queries` once: build (the query function),
  * plan (force the executed plan), execute (run every row of the output
  * through the planned query). The cold
  * pass writes every output as parquet for the checks. Every pass
  * observes a row count and an order-free row-hash sum on the output;
  * a later pass whose figures differ from the cold pass's fails. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  /** They last about as long as the DuckDB checks of the cold output,
    * which the timed passes wait for. */
  val warmupPasses = 3
  val minTimedPasses = 3
  private val spark = ctx.spark
  private val fns = graft.SparkEntry.queries
  private var data = ""
  private val cold = mutable.Map.empty[String, (Long, java.math.BigDecimal)]
  /** (pass, query) → (build, plan, exec) seconds. */
  val phases = mutable.Map.empty[(Int, String), (Double, Double, Double)]

  /** The seeded corpus and vectors, as the parquet tables the declared
    * queries read, and under `near/` the fixed corpus `q_dedup_near`
    * reads (README.md, "Known faults"). */
  def setup(dir: String): Unit = {
    import spark.implicits._
    Inputs.write(Inputs.corpus(ctx.seed)._1.toDF(), s"$dir/documents.parquet")
    Inputs.write(Inputs.embeddings(ctx.seed).toDF(), s"$dir/embeddings.parquet")
    Inputs.write(Inputs.corpus(Inputs.NearCorpusSeed)._1.toDF(),
      s"$dir/near/documents.parquet")
    data = dir
  }

  private def out(q: String) = s"${ctx.dir}/pass_0/out/$q"
  private def input(q: String) = if (q == NearQuery) s"$data/near" else data

  def pass(p: Int, dir: String): Seq[Op] = Queries.map { q =>
    ctx.trace.span(q, "queries") {
      try {
        val t0 = System.nanoTime()
        val df = ctx.trace.span(s"$q.build", "queries.build") {
          fns(q)(spark, input(q))
        }
        val t1 = System.nanoTime()
        val obs = Observation(s"${q}_$p")
        val rowHash = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
          .cast(DecimalType(38, 0))
        val o = df.observe(obs, count(lit(1)).as("n"), sum(rowHash).as("h"))
        val qe = o.queryExecution
        // The cold pass writes the output for the checks (planning
        // included); later passes plan once, then run that plan.
        if (p > 0) ctx.trace.span(s"$q.plan", "queries.plan")(qe.executedPlan)
        val t2 = System.nanoTime()
        val m = ctx.trace.span(s"$q.exec", "queries.exec") {
          if (p == 0) {
            o.write.mode("overwrite").parquet(out(q))
            obs.get
          } else {
            SQLExecution.withNewExecutionId(qe, Some(q))(
              qe.toRdd.foreach(_ => ()))
            val r = qe.observedMetrics(obs.name)
            r.schema.fieldNames.zip(r.toSeq).toMap
          }
        }
        val t3 = System.nanoTime()
        phases((p, q)) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        System.err.println(f"[perfbench] pass $p $q ${(t3 - t0) / 1e9}%.3f s")
        val got = (m("n").asInstanceOf[Long],
          Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal])
            .getOrElse(java.math.BigDecimal.ZERO))
        if (p == 0) cold(q) = got
        val want = cold.get(q)
        if (got._1 == 0L) Op(q, ok = false, "empty output")
        else Op(q, want.exists(w => w._1 == got._1 && w._2.compareTo(got._2) == 0),
          s"rows=${got._1} cold=${want.map(_._1)}")
      } catch {
        case e: Throwable =>
          Op(q, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  override def check(p: Int): Seq[Op] = checkOutputs(ctx, s"${ctx.dir}/pass_0/out")

  override def pythonChecks: Seq[String] = {
    val oracle = graft.SparkEntry.oracleSql
    val tables = graft.engine.Tables.names.map(t =>
      s""""$t":${Json.str(s"$data/$t.parquet")}""").mkString(",")
    val subset = s""""subset":{"table":"embeddings","column":"label",""" +
      s""""values":${CheckedLabels.mkString("[", ",", "]")}},"""
    Queries.filter(oracle.contains).map { q =>
      s"""{"kind":"oracle","op":${Json.str(q)},"output":${Json.str(out(q))},""" +
        (if (q == "q_dedup_embedding") subset else "") +
        s""""sql":${Json.str(oracle(q))},"tables":{$tables}}"""
    }
  }
}

object Curation {
  val NearQuery = "q_dedup_near"
  val Queries = Seq(
    "q_dedup_minhash", NearQuery, "q_dedup_embedding", "q_text_bpe_tokens")
  /** `q_dedup_near` keeps pairs whose estimated Jaccard is at least this. */
  val NearThreshold = 0.5
  /** `q_dedup_embedding`'s DuckDB check covers these labels only: the
    * query pairs vectors within a label, so its output restricted to
    * them equals the oracle SQL over the vectors that carry them. */
  val CheckedLabels = Seq(0)

  def layerMetrics(l: Layers, w: Workload): Seq[(String, Double, String)] = {
    val cw = w match { case x: Curation => Some(x); case _ => None }
    def phase(i: Int) = cw.map { x =>
      val per = l.timed.map(p => Queries.flatMap(q => x.phases.get((p, q)))
        .map(_.productElement(i).asInstanceOf[Double]).sum).sorted
      if (per.isEmpty) 0.0 else per(per.size / 2)
    }.getOrElse(0.0)
    val firstBuild = cw.map(x => Queries.flatMap(q => x.phases.get((0, q)))
      .map(_._1).sum).getOrElse(0.0)
    val perQuery = Queries.map { q =>
      val v = cw.map(_ =>
        l.seconds(s => s.layer == "queries" && s.name == q)).getOrElse(0.0)
      (s"$q.wall_s", v, "s")
    }
    Seq(
      ("queries.build_s", phase(0), "s"),
      ("queries.plan_s", phase(1), "s"),
      ("queries.exec_s", phase(2), "s"),
      ("queries.first_build_s", firstBuild, "s")) ++ perQuery
  }

  /** Checks of `q_dedup_near` and `q_text_bpe_tokens`, which have no
    * SQL oracle, made from the generator's rows. */
  def checkOutputs(ctx: Ctx, out: String): Seq[Op] = {
    val (docs, _) = Inputs.corpus(ctx.seed)
    def run(name: String)(body: => (Boolean, String)): Op =
      try { val (ok, d) = body; Op(name, ok, d) }
      catch { case e: Throwable => Op(name, ok = false, e.toString) }

    val bpe = run("q_text_bpe_tokens") {
      val got = ctx.spark.read.parquet(s"$out/q_text_bpe_tokens").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ranks = graft.functions.Bpe.defaultRanks
      val sampleBad = docs.filter(_.doc_id % 10 == 0).count { d =>
        val want = graft.functions.Bpe.preTokens(d.text)
          .map(w => graft.functions.Bpe.encode(w, ranks).length.toLong).sum
        !got.get(d.doc_id).exists(_._2 == want)
      }
      val boundBad = docs.count { d =>
        val nonSpace = d.text.count(_ != ' ').toLong
        !got.get(d.doc_id).exists { case (pieces, toks) =>
          pieces <= toks && toks <= nonSpace }
      }
      (got.size == docs.size && sampleBad == 0 && boundBad == 0,
        s"rows=${got.size} sample_mismatch=$sampleBad bound_violations=$boundBad")
    }
    val near = run(NearQuery) {
      val (nearDocs, planted) = Inputs.corpus(Inputs.NearCorpusSeed)
      val sh = nearDocs.map(d => d.doc_id -> shingles(d.text)).toMap
      val got = ctx.spark.read.parquet(s"$out/$NearQuery")
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val below = got.count { case (a, b) =>
        jaccard(sh(a), sh(b)) < NearThreshold }
      val missed = planted.filterNot(got)
      (got.nonEmpty && below == 0 && missed.isEmpty,
        s"pairs=${got.size} below_threshold=$below " +
          s"planted=${planted.size} missed=${missed.mkString(",")}")
    }
    Seq(near, bpe)
  }

  /** Distinct 3-word shingles of a lowercased, space-split text. */
  def shingles(text: String): Set[String] =
    text.toLowerCase.split(" ").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a & b).size.toDouble / (a | b).size
}
