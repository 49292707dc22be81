package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{Gate, JdbcExtract, Snapshot}
import graft.streaming.ComposedPipeline

/** The reference's dataflow end to end: ranged JDBC extract, gated
  * atomic publish, content verify, changelog generations, serving reads
  * with time travel, retention, then the streaming CDC apply over a
  * replayed event feed. Expected tables come from the generator's rows,
  * with the changelogs applied in plain Scala. */
final class Lifecycle(ctx: Ctx) extends Workload {
  import Lifecycle._
  /** A pass takes 13–16 s, about half of it the streaming apply's four
    * micro-batches; the run fits the benchmark's time budget only with
    * no untimed pass and two timed ones (README.md, "Budget"). */
  val warmupPasses = 0
  val minTimedPasses = 2
  private val spark = ctx.spark
  private val trace = ctx.trace
  private val data = Inputs.lifecycle(ctx.seed)
  private var inputs = ""
  private var changes = Seq.empty[DataFrame]
  private var url = ""
  private var rep = 0

  private val expectedAccounts = digest(data.accounts.map(a =>
    Seq(a.id, a.name, a.region, a.balance)))
  private val expectedStates = data.states.map(st => digest(st.values.toSeq
    .map(f => Seq(f.id, f.account, f.category, f.amount, f.day))))

  /** Set-up: the fact table as parquet (the source a publish re-scans),
    * the changelogs as in-memory frames, the source table in embedded
    * Derby, and the event feed replayed into a feed log. The events are
    * also written as CSV, in plain Scala, for the DuckDB check. */
  def setup(dir: String): Unit = {
    import spark.implicits._
    val d = Inputs.lifecycle(ctx.seed)
    Inputs.write(d.facts.toDF(), s"$dir/fact")
    changes = d.changes.map(_.toDF())
    if (url.nonEmpty) dropDerby(url)
    rep += 1
    url = s"jdbc:derby:memory:perfbench_src_$rep;create=true"
    seedDerby(url, d.accounts)
    ComposedPipeline.replayToFeed(graft.engine.Tables.normalizeEventsTs(
      d.events.toDF()), s"$dir/feed", parts = 1)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/events.csv"),
      d.events.map(e => s"${e.event_id},${e.ts},${e.user_id}")
        .mkString("event_id,ts,user_id\n", "\n", "\n").getBytes("UTF-8"))
    inputs = dir
  }

  def pass(p: Int, dir: String): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    def op(name: String)(body: => (Boolean, String)): Unit = {
      val t0 = System.nanoTime()
      val r = try body catch {
        case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      ops += Op(name, r._1, r._2)
      System.err.println(f"[perfbench] pass $p $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    op("extract") {
      val dest = s"$dir/extract/${Snapshot.snapshotName("accounts", Stamp0)}"
      val rt = trace.span("jdbc_extract", "jdbc_extract") {
        JdbcExtract.snapshot(spark, url, "SRC_ACCOUNTS", "ID",
          Main.Threads, dest, derbyProps)
      }
      val got = rows(spark.read.parquet(dest), AccountCols)
      (rt.verified && got == expectedAccounts,
        s"verified=${rt.verified} digest=$got expected=$expectedAccounts")
    }

    val root = s"$dir/fact"
    def gen(i: Int) = s"$root/${Snapshot.snapshotName("fact", stamp(i))}"
    val fact = spark.read.parquet(s"$inputs/fact")
    op("publish") {
      trace.span("publish", "snapshot.publish") {
        val (observed, obs) = Gate.observed(fact, "fact_gate", Seq(
          count(lit(1)).as("n_rows"),
          count(when(col("id").isNull, 1)).as("null_ids"),
          sum(col("amount")).as("amount")))
        val rt = Snapshot.publishAtomic(spark, observed, gen(0))
        val m = Gate.require_(obs, m =>
          m("n_rows") == Inputs.FactRows.toLong && m("null_ids") == 0L)
        (rt.verified && m("amount") == data.facts.map(_.amount).sum,
          s"verified=${rt.verified} gate=$m")
      }
    }

    op("verify") {
      val rt = trace.span("verify", "snapshot.verify") {
        Snapshot.verifyContent(spark, fact, gen(0))
      }
      (rt.verified && rt.restoredRows == Inputs.FactRows, rt.toString)
    }

    op("merge") {
      (1 to Inputs.ChangeBatches).foreach { i =>
        trace.span(s"merge_$i", "snapshot.merge") {
          val merged = Snapshot.applyChangelog(spark.read.parquet(gen(i - 1)),
            changes(i - 1), Seq("id"), "op")
          val rt = Snapshot.publishAtomic(spark, merged, gen(i))
          require(rt.verified, s"generation $i failed verification: $rt")
        }
      }
      val got = rows(spark.read.parquet(gen(Inputs.ChangeBatches)), FactCols)
      val want = expectedStates(Inputs.ChangeBatches)
      (got == want, s"final digest=$got expected=$want")
    }

    op("serve") {
      trace.span("serve", "snapshot.serve") {
        val latest = Snapshot.readAsOf(spark, root, "fact",
          stamp(Inputs.ChangeBatches))
        val served = latest.groupBy("category")
          .agg(count(lit(1)).as("n"), sum("amount").as("amount"))
          .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .toMap
        val st = data.states(Inputs.ChangeBatches).values
        val want = st.groupBy(_.category)
          .map { case (c, fs) => c -> (fs.size.toLong, fs.map(_.amount).sum) }
        // time travel to just after the generation before the latest
        val back = Inputs.ChangeBatches - 1
        val asOf = Snapshot.readAsOf(spark, root, "fact",
          stamp(back).plusSeconds(60))
          .agg(count(lit(1)), sum("amount"), sum("id")).head()
        val st1 = data.states(back).values
        val asOfWant = (st1.size.toLong, st1.map(_.amount).sum, st1.map(_.id).sum)
        val asOfGot = (asOf.getLong(0), asOf.getLong(1), asOf.getLong(2))
        (served == want && asOfGot == asOfWant,
          s"served=${served == want} as_of=$asOfGot expected=$asOfWant")
      }
    }

    op("retention") {
      val deleted = trace.span("retention", "snapshot.retention") {
        Snapshot.expireGenerations(spark, root, keep = Keep, dbName = Some("fact"))
      }
      val all = (0 to Inputs.ChangeBatches).map(i =>
        Snapshot.snapshotName("fact", stamp(i)))
      val left = new java.io.File(root).list().filter(_.startsWith("fact_")).sorted
      (deleted == all.dropRight(Keep) && left.toSeq == all.takeRight(Keep),
        s"deleted=$deleted left=${left.toSeq}")
    }
    if (ctx.trace.on) {
      val g = new java.io.File(gen(Inputs.ChangeBatches))
      val files = g.listFiles().filter(_.getName.endsWith(".parquet"))
      lastGeneration = (files.map(_.length).sum.toDouble /
        data.states(Inputs.ChangeBatches).size, files.length.toDouble)
    }

    op("composed") {
      val snap = s"$dir/sessions"
      val st = trace.span("composed", "composed") {
        ComposedPipeline.run(spark, s"$inputs/feed", snap, s"$dir/checkpoint",
          maxBatchRecords = math.ceil(data.events.size.toDouble /
            Inputs.EventBatches).toLong)
      }
      composed(p) = st
      // the check counts sessions from the published generation
      // (RunStats.emittedSessions sums a foreachBatch sink's -1 counts)
      val last = ComposedPipeline.generationIds(spark, snap).last
      val got = rows(spark.read.parquet(s"$snap/gen_$last"), SessionCols)
      if (p == 0) { sessionsPath = s"$snap/gen_$last"; coldSessions = got }
      (st.batches >= Inputs.EventBatches && !st.crashed &&
        st.generations >= Inputs.EventBatches && got == coldSessions,
        s"$st digest=$got cold=$coldSessions")
    }
    ops.toSeq
  }

  var lastGeneration = (0.0, 0.0)
  /** The streaming apply's run statistics, by pass. */
  val composed = mutable.Map.empty[Int, ComposedPipeline.RunStats]
  private var sessionsPath = ""
  private var coldSessions = 0L

  /** Traced runs: (batch duration, addBatch duration) of every
    * micro-batch, by pass. The start event is delivered synchronously,
    * so each query maps to the pass that started it. */
  private val queryPass = mutable.Map.empty[java.util.UUID, Int]
  private val progress = mutable.ArrayBuffer.empty[(java.util.UUID, Double, Double)]
  if (trace.on) spark.streams.addListener(
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        queryPass.synchronized { queryPass(e.id) = trace.pass }
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.synchronized {
          progress += ((e.progress.id, e.progress.batchDuration / 1e3,
            Option(e.progress.durationMs.get("addBatch"))
              .map(_.longValue / 1e3).getOrElse(0.0)))
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
  def batchSeconds: Map[Int, Seq[(Double, Double)]] = progress.synchronized {
    progress.toSeq.groupMap(x => queryPass.synchronized(queryPass(x._1)))(
      x => (x._2, x._3))
  }

  override def pythonChecks: Seq[String] = Seq(
    s"""{"kind":"sessions","op":"composed","""+
      s""""sql":${Json.str(graft.SparkEntry.oracleSql("q_event_sessions"))},""" +
      s""""events":${Json.str(s"$inputs/events.csv")},""" +
      s""""sessions":${Json.str(sessionsPath)}}""")
}

object Lifecycle {
  val Keep = 1
  private val Stamp0 = Instant.parse("2024-01-01T00:00:00Z")
  def stamp(i: Int): Instant = Stamp0.plusSeconds(3600L * i)

  private val AccountCols = Seq("ID", "NAME", "REGION", "BALANCE")
  private val FactCols = Seq("id", "account", "category", "amount", "day")
  private val SessionCols =
    Seq("user_id", "session_seq", "n_events", "duration_sec", "is_bounce")

  private val derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Order-free digest of a multiset of rows, in plain Scala: the sum of
    * one 64-bit hash per row, plus the row count. */
  def digest(rs: Iterable[Seq[Any]]): Long = {
    var h = rs.size.toLong * 0x9E3779B97F4A7C15L
    rs.foreach { r =>
      h += scala.util.hashing.MurmurHash3.seqHash(r.map(_.toString)).toLong *
        0xC2B2AE3D27D4EB4FL + r.map(_.toString).mkString("\u0001").hashCode
    }
    h
  }

  def rows(df: DataFrame, cols: Seq[String]): Long =
    digest(df.select(cols.map(col): _*).collect().toSeq.map((r: Row) =>
      r.toSeq.map {
        case d: java.math.BigDecimal => d.longValueExact()
        case x => x
      }))

  private def seedDerby(url: String, accounts: Seq[Inputs.Account]): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().execute("CREATE TABLE SRC_ACCOUNTS (ID BIGINT " +
        "PRIMARY KEY, NAME VARCHAR(64), REGION INT, BALANCE BIGINT)")
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO SRC_ACCOUNTS VALUES (?, ?, ?, ?)")
      accounts.foreach { a =>
        ps.setLong(1, a.id); ps.setString(2, a.name)
        ps.setInt(3, a.region); ps.setLong(4, a.balance); ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally c.close()
  }

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // drop reports by exception

  def layerMetrics(l: Layers, w: Workload): Seq[(String, Double, String)] = {
    val lc = w match { case x: Lifecycle => Some(x); case _ => None }
    def layer(n: String) = (s: Trace#Span) => s.layer == n
    def sec(n: String) = if (lc.isEmpty) 0.0 else l.seconds(layer(n))
    def jobs(n: String)(g: Trace#Job => Double) =
      if (lc.isEmpty) 0.0 else l.jobSum(layer(n))(g)
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    // (batch, addBatch) seconds of each micro-batch, by timed pass
    val batches = lc.toSeq.flatMap(x => l.timed.map(p =>
      x.batchSeconds.getOrElse(p, Nil)))
    def stat(f: ComposedPipeline.RunStats => Double) = lc.map(x =>
      med(l.timed.flatMap(x.composed.get).map(f))).getOrElse(0.0)
    Seq(
      ("jdbc_extract.wall_s", sec("jdbc_extract"), "s"),
      ("jdbc_extract.tasks", jobs("jdbc_extract")(_.tasks.toDouble), "count"),
      ("snapshot.publish_s", sec("snapshot.publish"), "s"),
      ("snapshot.publish_jobs", jobs("snapshot.publish")(_ => 1.0), "count"),
      ("snapshot.publish_read_bytes",
        jobs("snapshot.publish")(j => (j.readBytes + j.shuffleRead).toDouble),
        "bytes"),
      ("snapshot.publish_write_bytes",
        jobs("snapshot.publish")(_.writeBytes.toDouble), "bytes"),
      ("snapshot.verify_s", sec("snapshot.verify"), "s"),
      ("snapshot.verify_read_bytes",
        jobs("snapshot.verify")(_.readBytes.toDouble), "bytes"),
      ("snapshot.merge_s", sec("snapshot.merge"), "s"),
      ("snapshot.merge_shuffle_bytes",
        jobs("snapshot.merge")(_.shuffleWrite.toDouble), "bytes"),
      ("snapshot.serve_s", sec("snapshot.serve"), "s"),
      ("snapshot.retention_s", sec("snapshot.retention"), "s"),
      ("snapshot.bytes_per_row", lc.map(_.lastGeneration._1).getOrElse(0.0),
        "bytes"),
      ("snapshot.files_per_generation",
        lc.map(_.lastGeneration._2).getOrElse(0.0), "count"),
      ("composed.wall_s", sec("composed"), "s"),
      ("composed.batches", stat(_.batches.toDouble), "count"),
      ("composed.batch_p50_s", med(batches.flatten.map(_._1)), "s"),
      ("composed.add_batch_s", med(batches.map(_.map(_._2).sum)), "s"),
      ("composed.state_rows_peak", stat(_.peakStateRows.toDouble),
        "count"))
  }
}
