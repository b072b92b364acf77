package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.migrator.{Migration, Reconcile}

/** Property-style tests the reference lacks (SURVEY §5 port strategy):
  * over randomized (seeded) ledger/dir states, the outer join partitions
  * versions into pending ∪ matched (∪ absconded ∪ tampered) correctly.
  */
class ReconcilePropertySpec extends SparkSpec {

  private val rnd = new Random(42)
  private def mk(v: Int) = Migration(v, s"V${v}__m.sql", s"h$v")

  test("pending = incoming \\ committed for clean ledgers (randomized)") {
    import spark.implicits._
    (1 to 8).foreach { _ =>
      val committedV = (1 to 30).filter(_ => rnd.nextBoolean()).toSet
      val extraV = (1 to 30).filter(_ => rnd.nextBoolean()).toSet
      val incomingV = committedV ++ extraV
      val committed = committedV.toSeq.map(mk).toDF()
      val incoming = incomingV.toSeq.map(mk).toDF()
      if (committedV.nonEmpty && incomingV.nonEmpty) {
        val pending = Reconcile.migrationsToApply(committed, incoming)
          .collect().map(_.getAs[Int]("version")).toSet
        assert(pending == incomingV -- committedV)
        // partition completeness on the joined relation
        val stat = Reconcile.executionStat(committed, incoming)
        val n = stat.count()
        val p = Reconcile.pending(stat).count()
        val abscond = Reconcile.absconded(stat).count()
        val tamper = Reconcile.tampered(stat).count()
        assert(abscond == 0 && tamper == 0)
        assert(n - p == committedV.size)
        assert(p == (incomingV -- committedV).size)
      }
    }
  }

  test("tampering any committed version is always detected (randomized)") {
    import spark.implicits._
    (1 to 8).foreach { _ =>
      val committedV = (1 to 20).filter(_ => rnd.nextBoolean()).toSet + 7
      val tamperedVersion = committedV.toSeq(rnd.nextInt(committedV.size))
      val committed = committedV.toSeq.map(mk).toDF()
      val incoming = committedV.toSeq.map { v =>
        if (v == tamperedVersion) Migration(v, s"V${v}__m.sql", "EDITED") else mk(v)
      }.toDF()
      val e = intercept[AssertionError] {
        Reconcile.migrationsToApply(committed, incoming)
      }
      assert(e.getMessage == Reconcile.TamperedMsg)
    }
  }

  test("driver reconcile matches the relational plan (seeded)") {
    import spark.implicits._
    val rnd = new Random(20261020L)
    def outcome(df: => DataFrame): Either[String, Seq[(Int, String, String)]] =
      try Right(df.collect().toSeq.map(r => (r.getAs[Any]("version").toString.toInt,
        r.getAs[String]("script"), r.getAs[String]("md5"))))
      catch { case e: AssertionError => Left(e.getMessage) }
    val kinds = Seq("clean", "duplicated", "tampered", "absconded", "tampered+absconded", "string")
    val seen = for (kind <- kinds; _ <- 1 to 6)
      yield {
        val onDisk = (1 to 12).filter(_ => rnd.nextBoolean()).toSet + 1
        val ledgered = (onDisk.filter(_ => rnd.nextBoolean()) + 1).toSeq.sorted
        val committed = kind match {
          case "duplicated" => ledgered.map(mk) ++ ledgered.filter(_ => rnd.nextBoolean()).map(mk)
          case "tampered" | "tampered+absconded" =>
            val t = ledgered(rnd.nextInt(ledgered.size))
            val gone = if (kind == "tampered") Nil else Seq(13)
            (ledgered ++ gone).map(v => if (v == t) Migration(v, s"V${v}__m.sql", "EDITED") else mk(v))
          case "absconded" => (ledgered ++ (13 to 13 + rnd.nextInt(3))).map(mk)
          case _ => ledgered.map(mk)
        }
        val committedDf =
          if (kind == "string") committed.map(m => (m.version.toString, m.script, m.md5))
            .toDF("version", "script", "md5")
          else committed.toDF().select("version", "md5", "script") // the ledger's column order
        val incomingDf = rnd.shuffle(onDisk.toSeq).map(mk).toDF()
        val driver = outcome(Reconcile.migrationsToApply(committedDf, incomingDf))
        val relational = outcome(Reconcile.relational(committedDf, incomingDf))
        assert(driver.map(_.sorted) == relational.map(_.sorted), s"$kind: $committed vs $onDisk")
        driver.foreach(p => assert(p.map(_._1) == p.map(_._1).sorted, s"$kind: not in version order"))
        driver.fold(identity, _ => "pending")
      }
    assert(seen.toSet == Set("pending", Reconcile.MissingMsg, Reconcile.TamperedMsg))
  }
}
