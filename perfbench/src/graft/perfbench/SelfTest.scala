package graft.perfbench

import org.apache.spark.sql.functions._

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  * a planted query that throws and a planted wrong checksum must both
  * count as failed executions, in untraced and traced passes alike, and
  * the checksum must see every column but not row order or last-ulp noise.
  */
object SelfTest {
  private var checks = 0
  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) {
      System.err.println(s"selftest FAILED: $what")
      sys.exit(1)
    }
    checks += 1
  }

  def main(args: Array[String]): Unit = {
    val spark = Main.session(2, args(0))
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    val base = spark.range(1000).select(col("id"), (col("id") / 7.0).as("x"), (col("id") % 3).as("k"))
    def sum(df: org.apache.spark.sql.DataFrame) = Checksum.read(Checksum.of(df))

    val ref = sum(base)
    expect(ref._1 == 1000, "row count")
    expect(sum(base.orderBy(col("id").desc).repartition(5)) == ref, "row order and partitioning do not matter")
    expect(sum(base.select(col("k"), col("x"), col("id"))) == ref, "column order does not matter")
    expect(sum(base.withColumn("x", col("x") + 1e-9)) == ref, "noise below 6 dp does not matter")
    expect(sum(base.withColumn("x", col("x") + 1e-4)) != ref, "a change at 4 dp is seen")
    expect(sum(base.withColumn("k", when(col("id") === 500, 7).otherwise(col("k")))) != ref,
      "a change in one non-float column is seen")
    expect(sum(base.limit(999)) != ref, "a missing row is seen")

    val items = Vector(
      Item("good", "SelfTest", (_, _) => base),
      Item("throws", "SelfTest", (_, _) => throw new IllegalStateException("planted failure")),
      Item("wrong_checksum", "SelfTest", (_, _) => base)
    )
    val pins = Pins(Map(
      ("selftest", "good") -> ref,
      ("selftest", "throws") -> ref,
      ("selftest", "wrong_checksum") -> (ref._1, ref._2 + "1")
    ))
    val runner = new Runner(spark, rec, "", pins.check("selftest", _))
    for (traced <- Seq(false, true)) {
      val p = runner.pass(1, items, traced)
      val failed = p.execs.filterNot(_.ok).map(_.name).toSet
      expect(failed == Set("throws", "wrong_checksum"), s"planted failures counted (traced=$traced): $failed")
      expect(!p.clean, "a pass with a failure is not clean")
      expect(p.execs.find(_.name == "throws").exists(_.error.exists(_.contains("planted failure"))),
        "the exception is recorded")
      expect(p.execs.find(_.name == "wrong_checksum").exists(_.error.exists(_.startsWith("output mismatch"))),
        "the mismatch is recorded")
    }
    rec.drain()
    val pass = rec.spans.find(_.kind == "pass").get
    val layers = Layers.ofPass(pass, rec.spans.toSeq, rec.jobsByParent, _ => "SelfTest", Seq("SelfTest"), 2)
    expect(layers("exec.jobs") >= 1, "exec jobs attributed")
    expect(layers("trace.coverage_frac") > 0.9, "construct + plan + exec cover the query span")
    expect(layers("mod.SelfTest.s") > 0, "module time attributed")
    spark.stop()
    println(s"selftest: $checks checks passed")
  }
}
