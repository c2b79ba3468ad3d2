package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  * One run = set-up (five times, the last session kept),
  * a cold pass and a warm-up pass, then a fixed number of measured
  * passes, one per three seconds of `--seconds` (at least six). Every
  * pass runs the workload's items in an order drawn from `--seed`, so no
  * result can lean on one order's JIT state. With `--trace 0` it reports
  * the end-to-end metrics; with `--trace 1` it alternates traced and
  * untraced measured passes and reports per-layer metrics from the
  * traced ones, plus their overhead against the untraced ones. The last stdout
  * line is the JSON result; the full record (every execution, provenance)
  * and, when traced, the spans go to `--out`.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, data: String, out: String,
      pins: String, cores: Int, recordPins: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v; case x => sys.error(s"bad argument ${x.mkString(" ")}") }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1", get("data"), get("out"),
      get("pins"), get("cores").toInt, kv.getOrElse("record-pins", "0") == "1")
  }

  /** The session the repo's mains build: production extensions, the
    * global-window guard armed, UTC; scratch space inside `scratch`.
    */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.failOnGlobalWindow", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val MB = 1024.0 * 1024.0
  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 5
  /** About one warm pass of either workload on 4 cores, in seconds. */
  private val NominalPassS = 3.0

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.all.find(_.name == args.workload).getOrElse(
      sys.error(s"unknown workload ${args.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val pins = Pins.parse(Files.readString(Paths.get(args.pins)))
    val scratch = Paths.get(args.out, "scratch").toAbsolutePath.toString

    // set-up: the session and a warm-up job. The first set-up is timed
    // from JVM start.
    val jvmAge = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime() - (if (i == 1) jvmAge * 1000000L else 0L)
      spark = session(args.cores, scratch)
      spark.range(1000000).selectExpr("sum(id)").collect()
      setups += (System.nanoTime() - t0) / 1e9
      if (i < Setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)

    val check: Exec => Exec = if (args.recordPins) identity else pins.check(wl.name, _)
    val runner = new Runner(spark, rec, args.data, check)
    def order(i: Int) = new Random(args.seed * 1000003L + i).shuffle(wl.items)
    // The cold pass compiles every plan and one more pass takes the JIT
    // past its steepest speed-up. Later the JIT compiler still spends
    // 4-8 s of CPU per 3 s pass for a few passes, and pass time drops by
    // up to a quarter once that backlog drains, at the 4th pass in one
    // run and after the 10th in another. More warm-up passes made the
    // spread between runs wider, not narrower: they moved the measured
    // passes onto that drop.
    val cold = runner.pass(0, order(0), traced = false)
    val warmup = runner.pass(1, order(1), traced = false)
    val warm = ArrayBuffer.empty[Pass]
    // A fixed number of measured passes, one per `NominalPassS` of
    // `--seconds`, at least six. Passes still speed up from one to the
    // next, so a count that followed the clock would put a run on a slow
    // host earlier on that curve and make it slower still.
    val measured = math.max(6, math.round(args.seconds / NominalPassS).toInt)
    while (warm.size < measured) {
      val i = warm.size + 2
      // traced and untraced passes alternate T U U T, so a JIT still
      // speeding up does not favour either kind
      warm += runner.pass(i, order(i), args.trace && Set(0, 3).contains(warm.size % 4))
    }
    rec.drain()

    val passes = Vector(cold, warmup) ++ warm
    val execs = passes.flatMap(_.execs)
    val failed = execs.filterNot(_.ok)
    def passSeconds(ps: Seq[Pass]) = median(Some(ps.filter(_.clean)).filter(_.nonEmpty).getOrElse(ps).map(_.seconds))
    val untraced = warm.filterNot(_.traced).toVector
    val queryMedians = untraced.flatMap(_.execs).filter(_.ok).groupBy(_.name).map { case (k, v) => k -> median(v.map(_.seconds)) }

    val metrics: Map[String, Double] =
      if (!args.trace)
        Map(
          "setup_s" -> median(setups.toSeq),
          "pass_s" -> passSeconds(untraced),
          "query_geomean_s" -> math.exp(queryMedians.values.map(math.log).sum / queryMedians.size),
          "peak_task_mem_mb" -> rec.peakTaskMem.get / MB
        )
      else {
        val spans = rec.spans.toSeq
        val moduleOf = wl.items.map(i => i.name -> i.module).toMap
        val perPass = warm.filter(_.traced).toSeq.map { p =>
          val span = spans.find(s => s.kind == "pass" && s.name == s"pass ${p.index}").get
          Layers.ofPass(span, spans, rec.jobsByParent, moduleOf, Workloads.modules, args.cores)
        }
        System.gc()
        perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap ++ Map(
          "first_pass.s" -> cold.seconds,
          "jvm.heap_after_gc_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB,
          "jvm.jit_s" -> median(warm.map(_.jitSeconds).toSeq),
          "jvm.classes_loaded" -> median(warm.map(_.classesLoaded.toDouble).toSeq),
          "trace.overhead_frac" -> (passSeconds(warm.filter(_.traced).toVector) / passSeconds(untraced) - 1)
        )
      }
    def unit(k: String) =
      if (k.endsWith("_mb")) "MB" else if (k.endsWith("_frac")) "frac"
      else if (k.endsWith(".s") || k.endsWith("_s")) "s" else "count"
    val metricsJson = metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> unit(k)) }

    val out = Paths.get(args.out)
    Files.createDirectories(out)
    val tag = s"${wl.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val provenance = Map(
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_digest" -> sys.props.getOrElse("perfbench.digest", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "worker_threads" -> args.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / MB,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "data_dir" -> args.data,
      "seed" -> args.seed,
      "run_seconds" -> args.seconds,
      "input_sizes" -> Workloads.tables.map(t => t -> graft.core.Tables.table(spark, args.data, t).count()).toMap
    )
    val result = Map(
      "workload" -> wl.name,
      "trace" -> args.trace,
      "provenance" -> provenance,
      "setup_s" -> setups.toSeq,
      "passes" -> passes.map { p =>
        Map("index" -> p.index, "traced" -> p.traced, "seconds" -> p.seconds, "jit_s" -> p.jitSeconds,
          "classes_loaded" -> p.classesLoaded, "execs" -> p.execs.map { e =>
          Map("name" -> e.name, "seconds" -> e.seconds, "rows" -> e.rows, "checksum" -> e.checksum,
            "error" -> e.error.orNull)
        })
      },
      "query_medians_s" -> queryMedians,
      "attempted" -> execs.size,
      "failed" -> failed.size,
      "failed_frac" -> failed.size.toDouble / execs.size,
      "metrics" -> metricsJson
    )
    Files.writeString(out.resolve(s"$tag.json"), Json(result) + "\n")
    if (args.trace)
      Files.writeString(out.resolve(s"$tag.spans.jsonl"), rec.allSpans.map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs)
      }.mkString("", "\n", "\n"))
    if (args.recordPins) {
      val seen = execs.filter(_.ok).map(e => e.name -> (e.rows, e.checksum)).distinct.groupBy(_._1)
      val unstable = seen.filter(_._2.size > 1).keys
      require(unstable.isEmpty, s"outputs differ between passes: ${unstable.mkString(", ")}")
      Files.writeString(out.resolve(s"pins-${wl.name}.tsv"), Pins.render(wl.name, execs.filter(_.ok)))
    }

    failed.map(e => s"${e.name}: ${e.error.get}").distinct.foreach(m => println(s"[perfbench] FAILED $m"))
    println(f"[perfbench] ${wl.name} seed=${args.seed} setups=${setups.map(s => f"$s%.2f").mkString("/")} s " +
      f"cold=${cold.seconds}%.2f s warm-up=${warmup.seconds}%.2f s measured passes=${warm.size} attempted=${execs.size} failed=${failed.size} " +
      f"failed_frac=${failed.size.toDouble / execs.size}%.4f")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"[perfbench]   $k%-34s $v%14.6f ${unit(k)}") }
    println(Json(Map("correct" -> failed.isEmpty, "attempted" -> execs.size, "failed" -> failed.size, "metrics" -> metricsJson)))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result records. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1).map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
