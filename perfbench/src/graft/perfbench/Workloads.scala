package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One call into the engine: a gate query function and the module
  * object that owns it (the unit of `mod.<Object>.*` attribution).
  */
final case class Item(name: String, module: String, run: (SparkSession, String) => DataFrame)

final case class Workload(name: String, items: Vector[Item])

object Modules {

  /** Query name → simple name of the module object whose public
    * `queries` map registers it. Found by scanning the compiled `graft`
    * package for objects with a zero-argument `queries` method, so a new
    * or renamed module needs no edit here. `SparkEntry` only
    * concatenates the module maps, and the union must equal it.
    */
  lazy val owners: Map[String, String] = {
    val loader = getClass.getClassLoader
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    val objects = loader.getResources("graft").asScala.toSeq.flatMap { url =>
      val root = new File(url.toURI)
      walk(root).map(f => root.getParentFile.toPath.relativize(f.toPath).toString)
    }
      .filter(p => p.endsWith("$.class") && !p.dropRight(7).contains("$"))
      .map(p => p.dropRight(6).replace(File.separatorChar, '.'))
      .filterNot(_ == "graft.SparkEntry$")
      .distinct
    val pairs = objects.flatMap { cn =>
      val cls = Class.forName(cn, false, loader)
      cls.getMethods.find(m => m.getName == "queries" && m.getParameterCount == 0).toSeq.flatMap { m =>
        val module = cls.getField("MODULE$").get(null)
        m.invoke(module).asInstanceOf[Map[String, _]].keys.map(_ -> cls.getSimpleName.stripSuffix("$"))
      }
    }
    val dup = pairs.groupBy(_._1).collect { case (q, ps) if ps.size > 1 => s"$q (${ps.map(_._2).mkString(", ")})" }
    require(dup.isEmpty, s"queries registered by more than one module: ${dup.mkString("; ")}")
    val m = pairs.toMap
    require(
      m.keySet == SparkEntry.queries.keySet,
      s"module queries maps and SparkEntry.queries disagree: " +
        (m.keySet diff SparkEntry.queries.keySet).mkString(",") + " / " +
        (SparkEntry.queries.keySet diff m.keySet).mkString(",")
    )
    m
  }
}

object Workloads {

  /** openseize's DSP surface, one gate query per family: FIR, IIR,
    * spectral, Hilbert, resampling, EEG re-referencing and filter
    * design. Single-plan kernels whose time is mostly
    * fixed per-query cost (plan and job overhead), so this is where
    * plan and exec fixed-cost work shows, and it bypasses round loops.
    */
  val eeg: Vector[String] = Vector(
    "fir_kaiser_lp", "iir_butter_filtfilt", "psd_welch", "hilbert_env", "resample_3_2", "car_reref",
    "filter_response"
  )

  /** The LLM-data and IO surface: the connected-components round loop
    * over the simhash pair graph, MinHash LSH, a text kernel, and two
    * file writes beside their read-backs (JSONL, gzipped WARC).
    * Construction-bound: much of its wall time is jobs the query
    * functions run themselves.
    */
  val corpus: Vector[String] = Vector(
    "dedup_components", "dedup_minhash", "text_quality", "jsonl_roundtrip", "warc_gz_roundtrip"
  )

  /** Tables the workloads read; their row counts are recorded as the input sizes. */
  val tables: Vector[String] = Vector("events", "documents", "embeddings")

  /** Gate queries, called exactly as the correctness gate calls them. A
    * name missing from `SparkEntry.queries` fails the run before any
    * timing, so a rename cannot silently shrink a workload.
    */
  def gate(name: String, queries: Vector[String]): Workload = {
    val stale = queries.filterNot(SparkEntry.queries.contains)
    require(stale.isEmpty, s"$name names queries that no longer exist: ${stale.mkString(", ")}")
    Workload(name, queries.map(q => Item(q, Modules.owners(q), SparkEntry.queries(q))))
  }

  lazy val all: Vector[Workload] = Vector(gate("eeg_sf001", eeg), gate("corpus_sf001", corpus))

  /** Every module any workload attributes time to, so a traced run of
    * any workload reports the same `mod.*` keys.
    */
  def modules: Vector[String] = all.flatMap(_.items.map(_.module)).distinct.sorted
}
