package graft.perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One execution of one item. A failed execution (it threw, or its rows
  * or checksum differ from the pin) carries its cause and is never used
  * as a timing.
  */
final case class Exec(name: String, seconds: Double, rows: Long, checksum: String, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** One pass over a workload, with the JIT compiler time and the classes
  * loaded while it ran (the generated code it could not reuse).
  */
final case class Pass(
    index: Int, traced: Boolean, seconds: Double, execs: Vector[Exec], jitSeconds: Double, classesLoaded: Long) {
  def clean: Boolean = execs.forall(_.ok)
}

/** Pinned `(rows, checksum)` per `(workload, item)`. */
final case class Pins(values: Map[(String, String), (Long, String)]) {
  def check(workload: String, e: Exec): Exec =
    values.get((workload, e.name)) match {
      case Some((r, c)) if r == e.rows && c == e.checksum => e
      case Some((r, c)) => e.copy(error = Some(s"output mismatch: got (${e.rows}, ${e.checksum}), pinned ($r, $c)"))
      case None => e.copy(error = Some("no pinned output"))
    }
}

object Pins {

  /** Tab-separated `workload query rows checksum` lines; `#` starts a comment. */
  def parse(text: String): Pins =
    Pins(
      text.linesIterator
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(w, q, r, c) = l.split("\t")
          (w, q) -> (r.toLong, c)
        }
        .toMap
    )

  def render(workload: String, execs: Seq[Exec]): String =
    execs.map(e => s"$workload\t${e.name}\t${e.rows}\t${e.checksum}\n").distinct.sorted.mkString
}

/** Runs passes over a workload's items, closed loop: one item at a time.
  * Each call is split into the three layers every query crosses:
  * construct (the query function, including any jobs it runs itself),
  * plan (Catalyst and the session extensions on the
  * final plan) and exec (the full-output action). `check` decides
  * whether an execution's output is right.
  */
final class Runner(spark: SparkSession, rec: Recorder, dir: String, check: Exec => Exec) {

  private def within[T](traced: Boolean, kind: String, name: String, parent: Long, phase: Boolean = false)(
      body: Long => T): T =
    if (traced) rec.span(kind, name, parent, phase)(body) else body(0L)

  def run(item: Item, traced: Boolean, passId: Long): Exec = {
    val t0 = System.nanoTime()
    try {
      val (rows, sum) = within(traced, "query", item.name, passId) { q =>
        val df = within(traced, "construct", item.name, q, phase = true)(_ => item.run(spark, dir))
        val h = within(traced, "plan", item.name, q, phase = true) { _ =>
          val h = Checksum.of(df)
          h.queryExecution.executedPlan
          h
        }
        if (traced) {
          val phases = h.queryExecution.tracker.phases
          rec.annotateLast(Seq("analysis", "optimization", "planning").map { k =>
            s"${k}_ms" -> phases.get(k).map(_.durationMs).getOrElse(0L)
          }.toMap)
        }
        within(traced, "exec", item.name, q, phase = true)(_ => Checksum.read(h))
      }
      check(Exec(item.name, (System.nanoTime() - t0) / 1e9, rows, sum, None))
    } catch {
      case NonFatal(e) =>
        Exec(item.name, (System.nanoTime() - t0) / 1e9, -1L, "", Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  def pass(index: Int, order: Vector[Item], traced: Boolean): Pass = {
    val jit = ManagementFactory.getCompilationMXBean
    val classes = ManagementFactory.getClassLoadingMXBean
    val (jit0, classes0) = (jit.getTotalCompilationTime, classes.getTotalLoadedClassCount)
    val t0 = System.nanoTime()
    val execs = within(traced, "pass", s"pass $index", 0L)(id => order.map(run(_, traced, id)))
    Pass(index, traced, (System.nanoTime() - t0) / 1e9, execs, (jit.getTotalCompilationTime - jit0) / 1e3,
      classes.getTotalLoadedClassCount - classes0)
  }
}
