package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Micro-profiler: times selected SparkEntry queries N times each (after a
  * shared warm-up) so regressions can be localized without the full Bench
  * run. One more rep is then split into phases: DataFrame construction
  * (`build`, with the jobs it runs — eager pins and driver-side collects),
  * Catalyst analysis / optimization / physical planning, and execution of
  * the final action, with that action's scheduling anatomy (jobs / stages
  * / tasks and the summed task time), so "slow because Catalyst chews a
  * giant tree", "slow because construction runs jobs" and "slow because
  * tasks are slow" each read off a number.
  * `SPARK_GRAFT_CONF=k=v;k=v` adds session confs at session build, for
  * A/B experiments. Dev tool, not part of the driver contract.
  * Usage: runMain graft.tools.Profile <sfDir> <reps> [q ...] */
object Profile {
  private class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val i = s.stageInfo
      val dur = (for (a <- i.completionTime; b <- i.submissionTime)
        yield a - b).getOrElse(-1L)
      stageLog.add((i.name.linesIterator.next(), i.numTasks, dur))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    def snap(): (Int, Int, Int, Long) = (jobs, stages, tasks, taskMs)
  }

  /** `SparkContext.listenerBus` is private[spark]; reach it reflectively
    * (dev tool only) so snapshots see every in-flight job/stage/task
    * event instead of whatever happened to have been delivered. */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(50) }

  /** (result, elapsed ms) */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(k -> v)
          case _ if kv.trim.isEmpty      => None // trailing ';' etc.
          case _ =>
            System.err.println(
              s"[profile] ignoring malformed SPARK_GRAFT_CONF segment '$kv'")
            None
        }
      }
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, extra: _*)
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    // listener events arrive asynchronously; drain the bus before each
    // snapshot so the per-phase deltas are exact
    def snap() = { drainListenerBus(spark); counts.snap() }
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      graft.SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() // warm rep (codegen, listing)
        catch { case e: Throwable => println(s"$n WARMUP FAILED: $e") }
        val times = (1 to reps).map { _ =>
          val (_, ms) = timed(
            try fn(spark, sfDir).count()
            catch { case e: Throwable => println(s"$n FAILED: $e") })
          ms / 1e3
        }
        try {
          val c0 = snap()
          val (df, tBuild) = timed(fn(spark, sfDir))
          val c1 = snap()
          val qe = df.queryExecution
          val tAna = timed(qe.assertAnalyzed())._2
          val tOpt = timed(qe.optimizedPlan)._2
          val tPhy = timed(qe.executedPlan)._2
          val tExe = timed(df.count())._2
          val c2 = snap()
          println(f"$n%-28s min=${times.min}%.3f " +
            f"med=${times.sorted.apply(reps / 2)}%.3f " +
            f"last=${(tBuild + tAna + tOpt + tPhy + tExe) / 1e3}%.3f")
          println(f"    build=$tBuild%.1fms jobs=${c1._1 - c0._1}%d " +
            f"taskSec=${(c1._4 - c0._4) / 1e3}%.2f | ana=$tAna%.1fms " +
            f"opt=$tOpt%.1fms phy=$tPhy%.1fms | exe=$tExe%.1fms " +
            f"jobs=${c2._1 - c1._1}%d stages=${c2._2 - c1._2}%d " +
            f"tasks=${c2._3 - c1._3}%d taskSec=${(c2._4 - c1._4) / 1e3}%.2f")
        } catch { case e: Throwable => println(s"$n FAILED: $e") }
        if (sys.env.contains("SPARK_GRAFT_STAGES")) {
          import scala.jdk.CollectionConverters._
          counts.stageLog.asScala.toSeq.sortBy(-_._3).take(12).foreach {
            case (nm, nt, dur) =>
              println(f"    stage $dur%6dms tasks=$nt%-4d $nm")
          }
        }
        counts.stageLog.clear()
      }
    }
    spark.stop()
  }
}
