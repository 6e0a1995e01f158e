package perfbench

import perfbench.Model.{Part, Product}

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * No Spark session; exits non-zero when a check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed =
      try ok
      catch { case e: Exception => println(s"  threw $e"); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private val base: IndexedSeq[Part] =
    (0 until 3000).map(k => Part(k.toLong, s"${Seq("red", "blue", "old")(k % 3)} gear $k", s"Brand#${k % 25 + 1}", 900.0 + k % 1000 * 0.1))

  def main(args: Array[String]): Unit = {
    check("UPC-A check digit of a published code (036000291452)") {
      Model.checkDigit("03600029145") == 2 && Model.validUpc("036000291452") && !Model.validUpc("036000291453")
    }

    val parts = Inputs.partVariant(base, 11L)
    val expected = Model.load(parts)
    val landed = expected.values.toSeq
    check("the table gate accepts the expected table") { Model.diff(expected, landed).isEmpty }
    check("the table gate rejects one flipped check digit") {
      val victim = landed.head
      val cd = victim.upc.last - '0'
      val flipped = victim.copy(upc = victim.upc.init + ((cd + 1) % 10))
      !Model.validUpc(flipped.upc) && Model.diff(expected, flipped +: landed.tail).nonEmpty
    }
    check("the table gate rejects one dropped row") { Model.diff(expected, landed.tail).nonEmpty }
    check("the table gate rejects one changed price") {
      Model.diff(expected, landed.head.copy(price = landed.head.price + 0.01) +: landed.tail).nonEmpty
    }
    check("the variant plants invalid rows and duplicates the reference drops") {
      val (in, valid, quarantined, deduped) = Model.counts(parts)
      in > base.size && quarantined > 0 && deduped < valid && deduped == expected.size
    }

    check("a query that throws is a failed operation") {
      val p = new Pass(new Tracer(false, "selftest"))
      p.timed("query", "q_ok")(42L)
      p.timed("query", "q_throws")(throw new IllegalStateException("boom"))
      val failed = p.ops.count(!_.ok)
      failed == 1 && failed.toDouble / p.ops.size == 0.5 && p.ops(1).note.contains("boom")
    }

    check("two input generations from one seed are identical") {
      def all(seed: Long) = {
        val load = Inputs.partVariant(base, seed)
        Seq(
          Inputs.render(load),
          Inputs.render(Inputs.reload(load, seed)),
          Inputs.pageSchedule(seed).mkString(","),
          Inputs.render(Inputs.stream(seed)),
          Inputs.queryOrder(seed).mkString(","))
      }
      all(5L) == all(5L) && Inputs.digest(all(5L)) == Inputs.digest(all(5L)) && all(5L) != all(6L)
    }
    check("the page schedule delivers every page once in order plus the replays") {
      (1L to 20L).forall { s =>
        val sched = Inputs.pageSchedule(s)
        sched.distinct == (0 until Inputs.Pages) && sched.size == Inputs.Pages + Inputs.PagedReplays
      }
    }

    check("a pretty-printed record reads back with json4s") {
      import org.json4s._
      val rec = JObject("queries" -> JObject("q_a" -> JDouble(1.5), "q_b" -> JDouble(0.25)), "cpus" -> JInt(4))
      val f = java.io.File.createTempFile("perfbench", ".json")
      try {
        Records.write(f.getPath, rec)
        Records.read(f.getPath) == rec
      } finally f.delete()
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
