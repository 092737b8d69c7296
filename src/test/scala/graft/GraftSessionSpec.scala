package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Session conf has one owner: `GraftSession.local` decides it, `withConf`
  * scopes a change to one body, and the loaders only read it. */
class GraftSessionSpec extends SparkSpec {
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("Tables.events and EventStream.readEventsStream leave the session " +
    "conf as they found it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conf").toString
    Seq(("e1", "u1", "purchase", 1735689600123456L))
      .toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    // a session the factory did not configure (nanosAsLong unset, as in a
    // caller's own session): a loader that switches it on shows up here
    val fresh = spark.newSession()
    fresh.conf.unset(nanosKey)
    val before = fresh.conf.getAll
    assert(Tables.events(fresh, dir).count() === 1)
    EventStream.readEventsStream(fresh, dir)
    assert(fresh.conf.getAll === before)
  }

  test("withConf restores a set key and unsets an unset key, also when " +
    "the body throws") {
    val s = spark.newSession()
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val before = s.conf.getAll
    assert(before.contains(setKey) && !before.contains(unsetKey))
    val inside = GraftSession.withConf(s, setKey -> "3", unsetKey -> "-1") {
      (s.conf.get(setKey), s.conf.get(unsetKey))
    }
    assert(inside === (("3", "-1")))
    assert(s.conf.getAll === before)
    intercept[IllegalStateException] {
      GraftSession.withConf(s, setKey -> "5", unsetKey -> "1MB") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.getAll === before)
  }

  test("a local session and its new sessions carry UTC, the hash-aggregate " +
    "fallback floor and nanosAsLong") {
    Seq(spark, spark.newSession()).foreach { s =>
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
        "1000000")
      assert(s.conf.get(nanosKey) === "true")
    }
  }
}
