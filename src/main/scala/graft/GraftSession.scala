package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built and its conf decided. Every
  * main (Bench, Verify, the dev tools) and the test suites open their
  * session through `local`, passing only what differs at that site; query
  * and loader code never writes session conf except through `withConf`,
  * which scopes the change to one body. */
object GraftSession {
  private val shared = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Spark's default fallback (128 groups!) demotes every collect_set/
    // collect_list aggregate to sort-based on any realistic group
    // count; 1M keeps them hash-based here (−15% on the basket-family
    // subset). Memory bound = per-partition group cardinality × buffer
    // width — size to executor memory on a real cluster. Results are
    // identical either way: only the aggregation strategy changes.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    // a TIMESTAMP(NANOS) `events.ts` (older fixture generations) loads as
    // LongType instead of failing with PARQUET_TYPE_ILLEGAL; Tables.events
    // and EventStream.readEventsStream truncate it to micros
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` session with one shuffle partition per core plus the
    * shared confs; `overrides` are applied last, so they win. */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    (shared ++ overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `confs` set, then restores each key even if `body`
    * throws: a key that was set gets its old value back, a key that was
    * unset is unset again (so it keeps following Spark's default). */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val explicit = spark.conf.getAll // only the keys set on this session
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
