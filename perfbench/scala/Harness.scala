package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's client: one process, one closed loop on `local[cpus]`.
  *
  * Set-up is the session start, an untimed pass that runs every query of
  * the workload once and writes its result as parquet for the oracle check
  * (the cold pass: codegen, class loading, page cache), and `warm` untimed
  * passes that run every query into the noop sink (JIT warm-up). The
  * timed window then runs `passes` complete passes over the queries, in the
  * given order and back to back. The pass count is fixed by the caller, not
  * by the clock, so a faster program gets the same number of samples as a
  * slower one. Each query is one
  * call of the query function (the build, which may run eager jobs) and one
  * noop write (the sink), with `graft.Bench`'s hygiene between queries: a
  * full GC before and a blocking drop of leftover cached blocks after, both
  * outside the timed interval.
  *
  * Everything measured is written as JSON to `--out`; `run.py` reduces it.
  * The working directory is the run's scratch directory: the streaming
  * loops and staged tables write below it.
  *
  * Arguments: --input DIR --queries q1,q2,… --warm W --passes N --trace 0|1
  * --cpus N --check-out DIR --out FILE
  */
object Harness {
  private final case class Sample(query: String, pass: Int, start: Long,
      buildEnd: Long, end: Long, buildMs: Double, sinkMs: Double,
      gcMs: Long, error: String)

  private def treeSize(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(treeSize).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (f.length(), 1L) else (0L, 0L)

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val input = a("input")
    val queries = a("queries").split(",").toSeq
    val warm = a("warm").toInt
    val passes = a("passes").toInt
    val traced = a("trace") == "1"
    val cpus = a("cpus")
    val checkOut = a("check-out")
    val fns = graft.SparkEntry.queries
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File("local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val trace = new Trace(input, traced)
    spark.streams.addListener(trace.streaming)
    if (traced) {
      spark.sparkContext.addSparkListener(trace.scheduler)
      spark.listenerManager.register(trace.planning)
    }
    def dropLeftoverBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // set-up: the untimed correctness pass (the cold pass)
    val checkErrors = queries.map { q =>
      val err =
        try {
          fns(q)(spark, input).coalesce(1).write.mode("overwrite")
            .parquet(s"$checkOut/$q")
          ""
        } catch { case e: Throwable => e.toString }
      dropLeftoverBlocks()
      q -> err
    }
    val checkedMs = System.currentTimeMillis()
    // set-up, continued: untimed warm passes with the timed passes' sink, so
    // that timing starts past the steepest part of the JIT's warm-up
    for (_ <- 0 until warm; q <- queries) {
      try fns(q)(spark, input).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }  // a failing query fails in the timed passes
      dropLeftoverBlocks()
    }
    val oracle = graft.SparkEntry.oracleSql
    val readyMs = System.currentTimeMillis()

    // timed window: a fixed number of complete passes
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
    // where the program keeps checkpoints, durable state, spools, staged
    // tables and temp outputs; Spark's own scratch dirs are not counted
    def durable: Seq[File] = Seq(new File("target"), new File("spark-warehouse")) ++
      Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && !f.getName.startsWith("spark-") &&
          !f.getName.startsWith("hsperfdata"))
    val samples = ArrayBuffer[Sample]()
    val passDurable = ArrayBuffer[(Long, Long)]()
    val t0 = System.nanoTime()
    for (pass <- 0 until passes) {
      queries.foreach { q =>
        System.gc()
        val g0 = gcMs()
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var n1 = n0
        var s1 = s0
        val err =
          try {
            val df = fns(q)(spark, input)
            n1 = System.nanoTime(); s1 = System.currentTimeMillis()
            df.write.format("noop").mode("overwrite").save()
            ""
          } catch { case e: Throwable => e.toString }
        val n2 = System.nanoTime()
        val s2 = System.currentTimeMillis()
        val g = gcMs() - g0
        dropLeftoverBlocks()
        samples += Sample(q, pass, s0, s1, s2, (n1 - n0) / 1e6, (n2 - n1) / 1e6, g,
          err)
      }
      passDurable += durable.map(treeSize).foldLeft((0L, 0L)) {
        case ((x, y), (u, v)) => (x + u, y + v)
      }
    }
    val windowMs = (System.nanoTime() - t0) / 1e6
    val rssKb = peakRssKb()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val out = new StringBuilder
    out ++= s"""{"session_ms":$sessionMs,"checked_ms":$checkedMs,"ready_ms":$readyMs,"window_ms":$windowMs,"peak_rss_kb":$rssKb,"cpus":$cpus,"passes":$passes,"""
    out ++= checkErrors.map { case (q, e) => s"${js(q)}:${js(e)}" }
      .mkString("\"check_errors\":{", ",", "},")
    out ++= queries.filter(oracle.contains).map(q => s"${js(q)}:${js(oracle(q))}")
      .mkString("\"oracle_sql\":{", ",", "},")
    out ++= passDurable.map { case (b, f) => s"[$b,$f]" }
      .mkString("\"durable\":[", ",", "],")
    out ++= samples.map { s =>
      s"""{"q":${js(s.query)},"pass":${s.pass},"start":${s.start},"build_end":${s.buildEnd},"end":${s.end},"build_ms":${s.buildMs},"sink_ms":${s.sinkMs},"gc_ms":${s.gcMs},"error":${js(s.error)}}"""
    }.mkString("\"samples\":[", ",\n", "],")
    out ++= trace.spans.asScala.filter(_.start >= readyMs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"layer":${js(s.layer)},"name":${js(s.name)},"start":${s.start},"end":${s.end},"attrs":$attrs}"""
    }.mkString("\"spans\":[", ",\n", "]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.toString)
    spark.stop()
  }
}
