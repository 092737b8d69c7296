package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import graft.{Pipeline, SparkEntry}
import graft.ingest.JsonlIngest
import Harness.{Op, errorText, nextOp, time}

/** `Pipeline.run` cycles: batch A into an empty warehouse, then batch B
  * (half its event ids shared with A) merged into the same warehouse. */
final class EtlWorkload(input: String, work: String) extends Workload {

  override def inputPath: Option[String] = Some("/events.jsonl")

  private def runPipeline(spark: SparkSession, batch: String, wh: String,
                          exportRoot: String): Map[String, Long] =
    Pipeline.run(spark, s"$batch/events.jsonl", s"$batch/users.csv", wh,
      exportRoot, Some(s"$batch/intl.jsonl")).metrics

  def warm(spark: SparkSession): Unit = {
    val dir = s"$work/warm"
    runPipeline(spark, s"$input/W", s"$dir/wh", s"$dir/export")
    deleteTree(new File(dir))
  }

  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer])
      : (Seq[Op], Map[String, Double]) = {
    val dir = s"$work/etl/p$p"
    val wh = s"$dir/wh"
    val ops = Seq("A" -> "fresh", "B" -> "merge").map { case (b, kind) =>
      val batch = s"$input/$b"
      val exportRoot = s"$dir/export_$b"
      val op = nextOp()
      try {
        val (report, s) = time(tracer match {
          case None => runPipeline(spark, batch, wh, exportRoot)
          case Some(tr) => tr.span(op, s"batch.$b") {
            EtlReplay.run(spark, tr, op, batch, wh, exportRoot)
          }
        })
        Op(b, kind, p, tracer.isDefined, Some(s), None, report = report)
      } catch { case e: Throwable =>
        Op(b, kind, p, tracer.isDefined, None, Some(errorText(e)))
      }
    }
    val (bytes, files) = dataFiles(new File(wh))
    // ingest on its own: one count of batch A's good and bad records
    val parse = tracer.map { tr =>
      val op = nextOp()
      time(tr.span(op, "ingest.parse") {
        val (good, bad) =
          JsonlIngest.readEvents(spark, s"$input/A/events.jsonl")
        good.count() + bad.count()
      })._2
    }
    deleteTree(new File(dir))
    (ops, Map("wh_bytes" -> bytes.toDouble, "wh_files" -> files.toDouble) ++
      parse.map("parse_s" -> _))
  }

  /** (bytes, count) of the parquet data files under a warehouse root. */
  private def dataFiles(root: File): (Long, Long) = {
    val files = walk(root).filter(f => f.getName.startsWith("part-") &&
      !f.getName.endsWith(".crc"))
    (files.map(_.length).sum, files.size.toLong)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Passes over a fixed list of registry queries, in a fixed order. Each
  * pass runs in a new session of the same SparkContext, so the registry's
  * per-session memos start empty and every pass does the work one
  * `graft.Bench` run does. */
final class RegistryWorkload(fixtures: String, warmDir: String,
                             queries: Seq[String]) extends Workload {
  private val fns = queries.map { q =>
    q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q"))
  }

  /** Bench's warm-up: every query once at the smallest fixture (the
    * harness then drains its pins, as Bench does). */
  def warm(spark: SparkSession): Unit = {
    fns.foreach { case (q, fn) =>
      try fn(spark, warmDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $q failed: ${errorText(e)}")
      }
    }
  }

  private def pinIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Catalyst time: analysis + optimization + planning. */
  private def catalystS(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (ph, s) if Set("analysis", "optimization", "planning")(ph) =>
        s.durationMs
    }.sum / 1e3

  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer])
      : (Seq[Op], Map[String, Double]) = {
    val s = spark.newSession()
    val live0 = pinIds(spark)
    val ops = fns.map { case (q, fn) =>
      val op = nextOp()
      tracer match {
        case None =>
          try {
            val (n, t) = time(fn(s, fixtures).count())
            Op(q, "query", p, traced = false, Some(t), None, rows = Some(n))
          } catch { case e: Throwable =>
            Op(q, "query", p, traced = false, None, Some(errorText(e)))
          }
        case Some(tr) =>
          val before = pinIds(spark)
          try {
            val ((n, cat), t) = time(tr.span(op, q) {
              val df = tr.span(op, "build") { fn(s, fixtures) }
              val cnt = df.groupBy().count()
              tr.span(op, "plan") { cnt.queryExecution.executedPlan }
              val n = tr.span(op, "exec") { cnt.collect()(0).getLong(0) }
              (n, catalystS(cnt.queryExecution))
            })
            Op(q, "query", p, traced = true, Some(t), None, rows = Some(n),
              extra = Map("catalyst_s" -> cat,
                "pins_created" -> (pinIds(spark) -- before).size.toDouble))
          } catch { case e: Throwable =>
            Op(q, "query", p, traced = true, None, Some(errorText(e)))
          }
      }
    }
    (ops, Map("pins_live_end" -> (pinIds(spark) -- live0).size.toDouble))
  }
}

/** Loads the classes both kinds of workload use, measuring nothing. */
final class TrainWorkload(input: String, work: String, fixtures: String,
                          queries: Seq[String]) extends Workload {
  def warm(spark: SparkSession): Unit = {
    new EtlWorkload(input, work).warm(spark)
    new RegistryWorkload(fixtures, fixtures, queries).warm(spark)
  }
  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer])
      : (Seq[Op], Map[String, Double]) = (Nil, Map.empty)
}
