package perfbench

import org.apache.spark.sql.DataFrame

/** Seeded input generator. Rows are made in plain Scala from
  * `scala.util.Random(seed)`, so the same seed gives the same rows, and
  * the expected results of the lifecycle are computed from these rows
  * without the engine. Sizes and shares are constants here; README.md
  * lists them. */
object Inputs {
  final case class Account(id: Long, name: String, region: Int, balance: Long)
  final case class Fact(
      id: Long, account: Long, category: String, amount: Long, day: Int)
  final case class Change(
      op: String, id: Long, account: Long, category: String,
      amount: Long, day: Int)
  final case class Event(
      event_id: Long, ts: Long, user_id: Long, event_type: String,
      value: Double, props: String)
  final case class Doc(
      doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  val SourceRows = 2000
  val FactRows = 20000
  val ChangeBatches = 1
  val ChangesPerBatch = 800
  val Users = 300
  val EventBatches = 3
  /** The event feed does not depend on `--seed`: the streaming apply
    * fails its check on every input of this shape (README.md, "Known
    * fault"), and a failing operation is kept only on fixed inputs. */
  val EventSeed = 20240101L

  val Docs = 3000
  val ExactShare = 0.05
  val NearShare = 0.05
  /** `q_dedup_near` reads the corpus of this seed, not of `--seed`: it
    * misses a planted near copy on this corpus (README.md, "Known
    * faults"), and a failing operation is kept only on fixed inputs. */
  val NearCorpusSeed = 107L
  val Vectors = 2000
  val NearVectorShare = 0.05

  private val Categories =
    Seq("books", "games", "garden", "music", "office", "sport", "tools", "toys")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es")

  /** The lifecycle's inputs and, per generation, the expected table. */
  final case class Lifecycle(
      accounts: Seq[Account], facts: Seq[Fact], changes: Seq[Seq[Change]],
      events: Seq[Event]) {
    /** Expected fact table after 0..ChangeBatches changelogs, applied
      * key by key in plain Scala. */
    lazy val states: Seq[Map[Long, Fact]] =
      changes.scanLeft(facts.map(f => f.id -> f).toMap) { (st, batch) =>
        batch.foldLeft(st) { (m, c) =>
          if (c.op == "D") m - c.id
          else m + (c.id -> Fact(c.id, c.account, c.category, c.amount, c.day))
        }
      }
  }

  def lifecycle(seed: Long): Lifecycle = {
    val r = new scala.util.Random(seed)
    val accounts = (1 to SourceRows).map { i =>
      Account(i.toLong, s"acct-$i-${word(r)}", r.nextInt(5),
        r.nextInt(1000000).toLong)
    }
    def fact(id: Long) = Fact(id, 1L + r.nextInt(SourceRows),
      Categories(r.nextInt(Categories.size)), r.nextInt(100000).toLong,
      r.nextInt(365))
    val facts = (1 to FactRows).map(i => fact(i.toLong))
    var live = facts.map(_.id).toVector
    var nextId = FactRows.toLong + 1
    val changes = (0 until ChangeBatches).map { _ =>
      val touched = r.shuffle(live).take(ChangesPerBatch * 17 / 20)
      val (deletes, updates) = touched.splitAt(ChangesPerBatch * 3 / 20)
      val inserts = (0 until ChangesPerBatch - touched.size)
        .map(_ => { nextId += 1; nextId - 1 })
      val batch = deletes.map(id => Change("D", id, 0L, "", 0L, 0)) ++
        (updates ++ inserts).map { id =>
          val f = fact(id)
          Change("U", id, f.account, f.category, f.amount, f.day)
        }
      live = (live.filterNot(deletes.toSet) ++ inserts)
      r.shuffle(batch)
    }
    Lifecycle(accounts, facts, changes,
      events(new scala.util.Random(EventSeed)))
  }

  /** Per user 1–4 sessions of 1–8 events; gaps inside a session are
    * 10 s–20 min, gaps between sessions at least 45 min (the session gap
    * is 30 min). Whole seconds, from 2024-01-01T00:00:00Z. */
  private def events(r: scala.util.Random): Seq[Event] = {
    val t0 = 1704067200L
    val raw = (1 to Users).flatMap { u =>
      var t = t0 + r.nextInt(6 * 3600)
      (0 until 1 + r.nextInt(4)).flatMap { s =>
        if (s > 0) t += 2700 + r.nextInt(4 * 3600)
        (0 until 1 + r.nextInt(8)).map { e =>
          if (e > 0) t += 10 + r.nextInt(1200)
          (t, u.toLong)
        }
      }
    }
    raw.sortBy(identity).zipWithIndex.map { case ((sec, u), i) =>
      Event(i.toLong + 1, sec * 1000000000L, u,
        EventTypes(r.nextInt(EventTypes.size)),
        (r.nextInt(56000) / 100.0), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Corpus over a 2000-word synthetic vocabulary with a skewed word
    * distribution. A share of documents are exact copies of an earlier
    * document, another share are near copies (an earlier document plus
    * one appended word). Returns the docs and the planted near pairs
    * (base id, copy id). */
  def corpus(seed: Long): (Seq[Doc], Seq[(Long, Long)]) = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val vocab = Vector.fill(2000)(word(r)).distinct
    def pick(): String = {
      val x = r.nextDouble()
      vocab((x * x * vocab.size).toInt)
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val near = Seq.newBuilder[(Long, Long)]
    (0 until Docs).foreach { i =>
      val x = r.nextDouble()
      val text =
        if (i > 10 && x < ExactShare) texts(r.nextInt(i))
        else if (i > 10 && x < ExactShare + NearShare) {
          val base = r.nextInt(i)
          near += ((base.toLong, i.toLong))
          texts(base) + " " + pick()
        } else {
          val n = 30 + r.nextInt(90)
          val ws = Seq.fill(n)(pick())
          // a few digit and punctuation pieces for the tokenizers
          if (r.nextInt(4) == 0) (ws :+ s"v${r.nextInt(100)}.${r.nextInt(10)}!")
            .mkString(" ")
          else ws.mkString(" ")
        }
      texts += text
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Doc(i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        t.length.toLong)
    }.toSeq
    (docs, near.result())
  }

  /** 64-dimensional vectors uniform in [-1, 1), ten labels; a share are
    * an earlier vector of the same label plus small noise. */
  def embeddings(seed: Long): Seq[Emb] = {
    val r = new scala.util.Random(seed ^ 0xe3bL)
    val out = scala.collection.mutable.ArrayBuffer.empty[Emb]
    (0 until Vectors).foreach { i =>
      if (i > 10 && r.nextDouble() < NearVectorShare) {
        val b = out(r.nextInt(i))
        out += Emb(i.toLong,
          b.embedding.map(v => v + (r.nextFloat() - 0.5f) * 0.02f), b.label)
      } else
        out += Emb(i.toLong, Array.fill(64)(r.nextFloat() * 2f - 1f),
          r.nextInt(10))
    }
    out.toSeq
  }

  private def word(r: scala.util.Random): String =
    Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString

  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
