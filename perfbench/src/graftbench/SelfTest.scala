package graftbench

/** The benchmark's own checks on itself: seeded inputs are reproducible;
  * every workload's checks pass a right answer, timed and traced, and the
  * two agree; and the checks reject every corrupted variant of the answer,
  * which the tally counts as a failure.
  */
object SelfTest {
  def run(o: Main.Opts): Int = {
    val spark = Runner.session(o.work)
    var bad = 0
    def expect(ok: Boolean, what: String): Unit = {
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $what")
    }
    for (name <- Workloads.names) {
      val w = Workloads(name, 1L)
      val input = s"${o.work}/input-$name"
      val hash = w.generate(spark, input)
      expect(hash == Workloads(name, 1L).generate(spark, s"${o.work}/same"),
        s"$name: the same seed gives the same input hash")
      expect(hash != Workloads(name, 2L).generate(spark, s"${o.work}/other"),
        s"$name: another seed gives another input hash")
      Runner.deleteTree(s"${o.work}/same")
      Runner.deleteTree(s"${o.work}/other")
      val right = new Tally
      val (_, timed) = Runner.attempt(w, new TimedCtx(spark), input,
        s"${o.work}/a", right)
      Runner.cleanup(spark, s"${o.work}/a")
      val (_, traced) = Runner.attempt(w,
        new TracedCtx(spark, new Tracer(s"selftest-$name")), input,
        s"${o.work}/b", right)
      Runner.cleanup(spark, s"${o.work}/b")
      expect(right.attempted == 2 && right.failed == 0,
        s"$name: a right answer passes, timed and traced ${right.errors.mkString("; ")}")
      expect(timed.zip(traced).exists { case (x, y) => w.same(x, y) },
        s"$name: the traced answer equals the timed one")
      for (a <- traced.toSeq; (what, bad) <- w.corruptions(a)) {
        val wrong = new Tally
        Runner.judge(w)(bad, wrong)
        expect(wrong.failed == 1,
          s"$name: a corrupted answer ($what) counts as a failure (${wrong.errors.mkString("; ")})")
      }
      Runner.deleteTree(input)
    }
    spark.stop()
    println(if (bad == 0) "selftest passed" else s"selftest: $bad failed")
    if (bad == 0) 0 else 1
  }
}
