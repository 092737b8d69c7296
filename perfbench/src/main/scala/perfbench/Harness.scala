package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. run.py prepares the inputs, launches this with
  * `key=value` arguments and reads the JSON file it writes to `out`:
  *
  *  - `kind=etl input=DIR`: cycles of `graft.Pipeline.run` — batch A
  *    (`DIR/A`) into an empty warehouse, then batch B (`DIR/B`) merged
  *    into it. `DIR/W` is the tiny warm-up batch.
  *  - `kind=train input=DIR fixtures=DIR queries=...`: the ETL and the
  *    registry warm-ups only, no measurement; run.py dumps the JVM's
  *    class-data sharing archive from this run.
  *  - `kind=registry fixtures=DIR warm=DIR queries=q1,q2,...`: passes over
  *    the listed `SparkEntry.queries`, each timed as `graft.Bench` times
  *    it, `fn(spark, dir).count()`, in the given order.
  *
  * Common: `passes` (how many passes to measure), `trace=0|1`, `cpus`,
  * `work` (scratch dir), `out`, `setup_reps`, `warmup=0|1`.
  *
  * With `trace=1` passes alternate traced/untraced (at least one each):
  * the traced ones call each layer inside its own span (see [[Tracer]]),
  * the untraced ones are the baseline for the tracing overhead. A JVM
  * still warming up makes the later pass faster, so traced minus untraced
  * is an upper bound of the tracing cost. `baseline=0` traces every pass.
  */
object Harness {

  final case class Op(name: String, kind: String, pass: Int, traced: Boolean,
                      wallS: Option[Double], error: Option[String],
                      rows: Option[Long] = None,
                      report: Map[String, Long] = Map.empty,
                      extra: Map[String, Double] = Map.empty) {
    def json: String = Json.obj(Seq(
      "name" -> name, "kind" -> kind, "pass" -> pass, "traced" -> traced,
      "wall_s" -> wallS, "error" -> error, "rows" -> rows,
      "report" -> report, "extra" -> extra))
  }

  final case class Pass(pass: Int, traced: Boolean, wallS: Double,
                        extra: Map[String, Double] = Map.empty) {
    def json: String = Json.obj(Seq("pass" -> pass, "traced" -> traced,
      "wall_s" -> wallS, "extra" -> extra))
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument is not key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = kv("cpus")
    val work = kv("work")
    val trace = kv.getOrElse("trace", "0") == "1"
    val passes = kv("passes").toInt
    val setupReps = kv.getOrElse("setup_reps", "3").toInt
    val baseline = kv.getOrElse("baseline", "1") == "1"
    val kind = kv("kind")
    val workload: Workload = kind match {
      case "etl" => new EtlWorkload(kv("input"), work)
      case "registry" => new RegistryWorkload(kv("fixtures"), kv("warm"),
        kv("queries").split(",").toSeq)
      case "train" => new TrainWorkload(kv("input"), work, kv("fixtures"),
        kv("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }

    // Set-up: SparkContext start plus a fixed engine warm-up, repeated;
    // the first repetition is timed from JVM start. Then the workload's
    // own warm-up, once, on the last context, and a drain.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until setupReps) {
      val t0Ns = System.nanoTime()
      val fromJvmStartS =
        if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      spark.range(1000000).selectExpr("sum(id)").collect()
      setups += fromJvmStartS + (System.nanoTime() - t0Ns) / 1e9
    }
    val warm = kv.getOrElse("warmup", "1") == "1"
    val (_, warmupS) = time(if (warm) workload.warm(spark))
    if (warm) drain(spark)

    val tracer = if (trace) {
      val inputPath = workload.inputPath
      val rec = new Recorder(inputPath)
      Some((new Tracer(spark, rec), rec))
    } else None
    val orphans = if (trace) Some(OrphanAccCounter.attach()) else None

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    var gcPassMs = 0L // GC inside the passes only, not the drains
    val ops = ArrayBuffer.empty[Op]
    val passLog = ArrayBuffer.empty[Pass]
    // A fixed number of passes (fixed work steadies the figures); a traced
    // run with a baseline makes at least one traced and one untraced.
    val nPasses = math.max(passes, if (trace && baseline) 2 else 1)
    for (p <- 0 until nPasses) {
      if (p > 0) drain(spark)
      // listeners are attached for the traced passes only
      val tr = tracer.filter(_ => !baseline || p % 2 == 0)
      tr.foreach { case (_, rec) =>
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      val gc0 = gcMs
      val ps = System.nanoTime()
      val (passOps, extra) = workload.pass(spark, p, tr.map(_._1))
      ops ++= passOps
      passLog += Pass(p, tr.isDefined, (System.nanoTime() - ps) / 1e9, extra)
      gcPassMs += gcMs - gc0
      tr.foreach { case (t, rec) =>
        t.drain()
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
      }
    }
    val gcS = gcPassMs / 1e3
    val retainedMb = settledHeapMb()

    val traceFields: Seq[(String, Any)] = tracer match {
      case Some((tr, rec)) =>
        Seq(
          "unattributed_jobs" -> tr.attribute(),
          "spans" -> RawJson(tr.spans.map(tr.spanJson).mkString("[", ",", "]")),
          "traced_task_failures" ->
            rec.synchronized(rec.taskEvs.count(_.failed)),
          "orphan_acc_errors" -> orphans.map(_.count.get()).getOrElse(0L))
      case None => Nil
    }
    val result = Json.obj(Seq(
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setups.toSeq,
      "warmup_s" -> warmupS,
      "driver_gc_s" -> gcS,
      "peak_rss_mb" -> peakRssMb(),
      "retained_heap_mb" -> retainedMb,
      "ops" -> RawJson(ops.map(_.json).mkString("[", ",", "]")),
      "passes" -> RawJson(passLog.map(_.json).mkString("[", ",", "]"))) ++
      traceFields)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kv("out")), result)
    spark.stop()
    // Spark and graft leave non-daemon pools behind; the result is
    // written, so end the JVM here rather than wait on them.
    System.exit(0)
  }

  /** The Bench session: local[cpus], one shuffle partition per core, UTC,
    * the hash-aggregate fallback floor; scratch kept under `work`. */
  def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Untimed, after a warm-up and between passes: what `graft.Bench` does
    * after its warm-up. Unpersist the earlier pins and collect until the
    * ContextCleaner has reclaimed their blocks and shuffles, so that no
    * cleanup storm lands inside a timed pass and every pass starts from
    * the same state. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    settledHeapMb()
  }

  /** Heap still reachable (memos, pins, cached blocks): collect until the
    * figure settles, since Spark's ContextCleaner frees blocks behind the
    * GC that enqueued their references. */
  def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = 0L
    var i = 0
    while (i < 8) {
      System.gc()
      Thread.sleep(150)
      used = mem.getHeapMemoryUsage.getUsed
      if (math.abs(last - used) < last / 100) i = 8 else i += 1
      last = used
    }
    used / 1048576.0
  }

  /** Driver JVM high-water resident set (local mode: executors included). */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return Double.NaN
    scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private var opCounter = 0
  /** A fresh operation id: one per query run or ETL batch. */
  def nextOp(): Int = { opCounter += 1; opCounter }

  def time[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }
}

/** A pre-rendered JSON fragment. */
final case class RawJson(text: String)

trait Workload {
  /** Absolute path of the input file whose scans the trace counts. */
  def inputPath: Option[String] = None
  def warm(spark: SparkSession): Unit
  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer])
      : (Seq[Harness.Op], Map[String, Double])
}

/** Prints every registry query name, one per line (for select_registry.py). */
object ListQueries {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}
