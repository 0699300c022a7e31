package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.{Streaming, Tables}

/** One benchmark run in one JVM: set up, warm up, run the workload's ops
  * in whole cycles until `--seconds` have passed, then check every op's
  * result outside the timed section. Writes `trace.jsonl` (raw events) and
  * `check/` (results to compare) under `--out`; `run.py` starts this and
  * computes the metrics.
  *
  * Arguments: --workload live|batch --dir DIR --setup-dirs D1,D2
  * --warm DIR --out DIR --seconds N --trace 0|1 --cpus N */
object BenchMain {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val dir = a("dir"); val out = a("out")
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    val ops = Workloads.ops(workload)
    val trace = new Trace
    new java.io.File(out).mkdirs()

    // set-up, several times: a fresh SparkSession plus the program's
    // first load of each input. The last one is the session measured.
    var spark: SparkSession = null
    var inputRows = Map.empty[String, Long]
    val setupDirs = a("setup-dirs").split(",").filter(_.nonEmpty) :+ dir
    val setupS = setupDirs.map { d =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus)
      inputRows = load(spark, workload, d)
      (System.nanoTime() - t0) / 1e9
    }
    trace.streams(spark)
    if (traced) trace.jobs(spark)

    // warm-up: every op once on a tiny input, so class loading and JIT
    // land here and not on the first timed op
    val w0 = System.nanoTime()
    load(spark, workload, a("warm"))
    Workloads.ops(workload, Workloads.WarmChunks).foreach { op =>
      val t0 = System.nanoTime()
      op.plan(spark, a("warm")).collect()
      trace.add("t" -> "warm", "op" -> op.name,
        "dur_ms" -> (System.nanoTime() - t0) / 1e6)
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    // timed section: whole cycles over the ops, closed loop
    val gc0 = gcMs()
    val first = mutable.Map.empty[String, (Array[Row], StructType)]
    val m0 = System.currentTimeMillis()
    val deadline = System.nanoTime() + a("seconds").toLong * 1000000000L
    var cycle = 0
    do {
      ops.foreach(op => run(spark, op, dir, cycle, inputRows, first, trace))
      cycle += 1
    } while (System.nanoTime() < deadline)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val hwmKb = vmHwmKb()
    trace.add("t" -> "phase", "name" -> "measure", "start" -> m0,
      "end" -> System.currentTimeMillis(), "gc_ms" -> (gcMs() - gc0))
    val heapMb = heapAfterGcMb()
    // the oracle queries, and a marker that timing is over: the caller
    // may start DuckDB on them now, alongside the checks below
    val oracles = Workloads.oracles(ops).map { case (name, (k, sub)) =>
      name -> Map("sql" -> graft.SparkEntry.oracleSql(k), "dir" -> sub) }
    val w = new java.io.PrintWriter(s"$out/oracle.json", "UTF-8")
    try w.print(Json.obj(oracles)) finally w.close()
    new java.io.File(s"$out/measured").createNewFile()

    // correctness, untimed: each op's first result, plus its batch twin
    // where it has one; oracles run later in DuckDB
    ops.foreach { op =>
      first.get(op.name).foreach { case (rows, schema) =>
        save(spark, rows, schema, s"$out/check/${op.name}/got")
        op.check match {
          case Twin(twin) =>
            // a twin that throws leaves no `want`: the check then fails
            try {
              val df = twin(spark, dir)
              save(spark, df.collect(), df.schema,
                s"$out/check/${op.name}/want")
            } catch { case NonFatal(e) =>
              System.err.println(s"perfbench: twin of ${op.name}: $e") }
          case _ =>
        }
      }
      trace.add("t" -> "check", "op" -> op.name, "how" -> (op.check match {
        case _: Twin => "twin"; case Oracle(_) => "oracle"
        case ComponentsOfOraclePairs => "components"
      }), "key" -> (op.check match {
        case Oracle(k) => k
        case ComponentsOfOraclePairs => Workloads.PathPairs
        case _ => ""
      }))
    }
    trace.add("t" -> "summary", "workload" -> workload, "setup_s" -> setupS,
      "warmup_s" -> warmupS, "cycles" -> cycle, "vm_hwm_kb" -> hwmKb,
      "heap_after_gc_mb" -> heapMb,
      "live_chunks" -> Workloads.LiveChunks,
      "cpus" -> cpus, "input_rows" -> inputRows,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    trace.write(s"$out/trace.jsonl")
    spark.stop()
    sys.exit(0)
  }

  /** The session graft.Verify uses. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The program's first load of each input the workload reads. */
  def load(spark: SparkSession, workload: String, d: String)
      : Map[String, Long] =
    if (workload == "live")
      Map("events" -> Streaming.feedRows(spark, d).length.toLong)
    else Map(
      "events" -> Tables.events(spark, d).count(),
      "documents" -> Tables.documents(spark, d).count(),
      "embeddings" -> Tables.embeddings(spark, d).count(),
      Workloads.Paths ->
        Tables.documents(spark, s"$d/${Workloads.Paths}").count())

  private def run(spark: SparkSession, op: Op, dir: String, cycle: Int,
                  inputRows: Map[String, Long],
                  first: mutable.Map[String, (Array[Row], StructType)],
                  trace: Trace): Unit = {
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    def ms(n: Long): Double = (n - n0) / 1e6
    val base = Seq("t" -> "op", "name" -> op.name, "kind" -> op.kind,
      "family" -> op.family, "cycle" -> cycle, "start" -> start,
      "rows_in" -> inputRows(op.input))
    try {
      val df = op.plan(spark, dir)
      val n1 = System.nanoTime()
      val rows = df.collect()
      val n2 = System.nanoTime()
      // every repeat of an op must give the first execution's result
      val same = first.get(op.name) match {
        case None => first(op.name) = (rows, df.schema); true
        case Some((r, _)) => r.sameElements(rows)
      }
      trace.add(base ++ Seq("plan_ms" -> ms(n1), "dur_ms" -> ms(n2),
        "end" -> (start + ms(n2)), "rows_out" -> rows.length,
        "ok" -> true, "same" -> same): _*)
    } catch {
      case NonFatal(e) =>
        val n2 = System.nanoTime()
        trace.add(base ++ Seq("dur_ms" -> ms(n2), "end" -> (start + ms(n2)),
          "ok" -> false, "error" -> e.toString.take(500)): _*)
    }
  }

  private def save(spark: SparkSession, rows: Array[Row], schema: StructType,
                   path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection: what the program holds
    * once its ops have returned, whatever the collector's sizing. Spark
    * frees some memory only after a collection has found it unreachable
    * (its ContextCleaner drops the blocks of collected RDDs and
    * broadcasts), so this collects five times, 0.2 s apart, and keeps the
    * least. */
  private def heapAfterGcMb(): Double = (1 to 5).map { i =>
    if (i > 1) Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def vmHwmKb(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }.getOrElse(0L)
}
