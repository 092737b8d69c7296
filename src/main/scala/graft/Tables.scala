package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixtures (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All reads are plain parquet scans: Catalyst handles column pruning and
  * predicate pushdown, so callers should `.select`/`.filter` freely and let
  * the scan narrow itself. At cluster scale the same API would point at a
  * date-partitioned table root instead of a single file — the query code
  * does not change.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which vanilla
    * Spark 4 rejects with [PARQUET_TYPE_ILLEGAL]) and plain TIMESTAMP(MICROS),
    * depending on the fixture generation. Adapt to whichever arrives: under
    * the nanosAsLong conf every `GraftSession` carries, a NANOS column
    * loads as LongType — truncate it to micros with integer DIV (never a
    * double divide, ns epochs exceed 2^53); a MICROS column loads as a real
    * timestamp and passes through untouched. DuckDB oracles mirror both
    * with CAST(ts AS TIMESTAMP). The loader reads the session's conf and
    * never writes it. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // un-annotated parquet micros infer as NTZ; normalize to the
        // session-zone TimestampType every downstream consumer
        // (unix_micros, watermarks) expects — value-identical under the
        // UTC session zone all entry points set
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // a THIRD fixture encoding must fail loudly at the loader, not as
        // an obscure downstream cast error (the silent-adaptation pattern
        // behind the round-4 cliff)
        throw new IllegalStateException(
          s"events.ts arrived as unsupported dtype $other " +
            "(expected long nanos, TIMESTAMP_NTZ micros, or TIMESTAMP); " +
            "teach Tables.events the new fixture encoding explicitly")
    }
  }
  /** Floor on scan parallelism for compute-heavy corpora. A real corpus
    * arrives as thousands of splits, so this guard is a NO-OP at cluster
    * scale (splits ≥ cores ⇒ the frame passes through untouched — no
    * corpus shuffle is ever added on the scale path). The test fixture,
    * however, is ONE parquet file with ONE row group: Spark cannot split
    * a row group, so every downstream tokenizer / hasher / vector map
    * would run in a single task at any core count. When, and only when,
    * the scan yields fewer splits than the configured partition count,
    * a one-time redistribution of the (small, by construction — that is
    * why it arrived as one split) frame restores parallelism.
    *
    * The floor is SIZE-ADAPTIVE, not a constant: the target is
    * ceil(scanBytes / minSplitBytes), capped at the session shuffle
    * partition count — i.e. never create partitions carrying less than
    * ~minSplitBytes of input. A constant floor of numShufflePartitions
    * spread a sub-MB fixture over 32 partitions, and every downstream
    * stage of every consumer then ran 32+ near-empty tasks whose fixed
    * cost (launch, broadcast fetch, shuffle bookkeeping) dwarfed the
    * data; measured on the embedding family this halved wall time and
    * cut summed task time ~15x at local[32] while leaving cluster-scale
    * behaviour untouched (big scans hit the cap or the no-op path).
    * `spark.graft.scan.minSplitBytes` overrides the per-partition
    * target for A/B measurement. */
  private[graft] def withMinParallelism(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cap = spark.sessionState.conf.numShufflePartitions
    val minSplit = spark.conf
      .get("spark.graft.scan.minSplitBytes", (128 * 1024).toString).toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((bytes + minSplit - 1) / minSplit)
      .min(BigInt(cap)).max(BigInt(1)).toInt
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** `documents`/`embeddings` go through the parallelism floor: their
    * consumers run the engine's expensive narrow maps (tokenize, md5
    * sketches, per-dimension vector arithmetic) where scan-split
    * parallelism is the whole ballgame. */
  def documents(s: SparkSession, d: String): DataFrame =
    withMinParallelism(table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    withMinParallelism(table(s, d, "embeddings"))
}
